"""Interleaved A/B harness (guide §1 + the host-noise discipline).

Runs the given queries in ONE Spark session, alternating the baseline
(the given variables unset) and the variant (the given K=V environment
assignments applied) block-by-block for N pairs, and reports per-query and
per-set min/median for both sides. Only this same-session interleaving is
trustworthy on this host (documented 1.5-2.2x same-code cross-run swings).

The package reads no behavioural environment variable, so a candidate
code change is gated by a temporary read at its call site for the duration
of the measurement, e.g. `if os.environ.get("AB_CANDIDATE"): <new path>`,
then run as `python -m tools.ab12 AB_CANDIDATE=1 <query> ...`. Remove the
read before committing.

Usage:
    python -m tools.ab12 <K=V[,K=V...]> <query> [<query> ...] [--pairs N]
"""

from __future__ import annotations

import argparse
import os
import statistics
import time

from tools.harness import materialize, warm_codegen, warm_session


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument(
        "env", help="comma-separated K=V env assignments for the variant side"
    )
    parser.add_argument("queries", nargs="+", metavar="query")
    parser.add_argument("--pairs", type=int, default=4)
    parser.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = parser.parse_args()
    env = [token.split("=", 1) for token in args.env.split(",")]
    plain = [token for token, *value in env if not value or not token]
    if plain:
        parser.error(f"not K=V env assignments: {', '.join(plain)}")

    from quarkus_etl_spark.queries import all_query_callables

    queries = all_query_callables()
    unknown = [name for name in args.queries if name not in queries]
    if unknown:
        parser.error(f"unknown queries: {', '.join(unknown)}")

    from quarkus_etl_spark.session import get_spark

    spark = get_spark("ab12")
    spark.sparkContext.setLogLevel("ERROR")

    warm_session(spark, args.sf_dir)

    def set_side(side: str) -> None:
        for k, v in env:
            if side == "var":
                os.environ[k] = v
            else:
                os.environ.pop(k, None)

    # codegen warm-up for BOTH shapes, so neither side's first timed pass
    # pays first-compile
    for side in ("base", "var"):
        set_side(side)
        warm_codegen(spark, queries, args.queries, args.sf_dir)

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
