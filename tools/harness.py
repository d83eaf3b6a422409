"""Shared measurement code for bench.py and the tools that time queries or
compare bench artifacts (ab12, opt_measure, bench_compare).

One definition each of: the noop-sink materialization, the session
warm-up, the bench-artifact loader, the calib3 host normalization and the
per-query regression bar. Importing this module does not import pyspark,
so bench_compare stays a plain-Python tool.
"""

from __future__ import annotations

import json
import logging
import os
import re
import sys

log = logging.getLogger("tools.harness")

# Smallest fixture: codegen warm-up runs the heavy plan shapes here so the
# timed inputs are never touched before they are timed.
TINY_SF_DIR = "/root/testdata/sf0.001"

# Regression bar: a query is flagged when its host-normalized wall is at
# least REGRESSION_RATIO times the previous one AND at least
# REGRESSION_ABS_SEC slower (sub-second queries swing by more than 1.4x on
# scheduling noise alone).
REGRESSION_RATIO = 1.4
REGRESSION_ABS_SEC = 0.5

# Frozen expected-variance bounds for the iterative label-prop family
# (VERDICT r10 #3): these queries swing run-to-run on UNCHANGED code far
# beyond the average query — measured: q_graph_label_prop 1.66–2.86 s
# (r8) — because their per-round localCheckpoint blocks + convergence
# actions make them JVM-regime-sensitive (GC/scheduling state carried
# from whatever ran before), which the GLOBAL calib probe cannot cancel
# per-query. The bound is the max host-normalized same-code swing
# observed across ten rounds (~1.72x) plus margin; a ratio INSIDE it is
# reported under `expected_variance` with the bound, not as a flagged
# regression; beyond it the flag is real. The four connected-components
# queries (q_dedup_cluster/soft/canonical/canonical_best) left the list
# when their graphs moved to one local union-find task with no per-round
# jobs: three fresh processes at sf0.1 on 4 cores put each one's min
# within 1.03-1.08x, like the other q_dedup_* queries (1.02-1.37x).
CC_NOISE_EXPECTED_SPREAD = {
    "q_graph_label_prop": 1.8,
    # r11: flagged at 2.59 s vs 1.39 in one of three same-code runs (1.68
    # and 1.43 in the other two); a dedicated 8-rep SAME-SESSION probe
    # then measured 1.69-3.70 s (2.19x spread) — intrinsically noisier
    # than the CC family itself (its LSH-routed corpus×delta build shares
    # the same action-per-stage shape). Bound = measured 2.19 + margin.
    "q_dedup_incremental": 2.4,
}


def materialize(df) -> None:
    """Execute the full physical plan into the `noop` sink: scan, shuffle,
    agg and join run, with no sink or collect-to-Python cost."""
    df.write.format("noop").mode("overwrite").save()


def calib3_plan(spark):
    """The calib3 host probe's fixed, data-independent plan: 2B rows / 128
    partitions (4 waves on 32 cores), a ~0.7 s job there whose wall
    amortizes per-task scheduling jitter; (id % K) keeps the 2B-row sum
    inside BIGINT under ANSI. Unchanged since r10, so calib3 values stay
    comparable with every artifact that carries one."""
    return spark.range(0, 2_000_000_000, 1, 128).selectExpr(
        "sum((id % 100003) * 3 + 7) AS s",
        "count(if(id % 97 = 0, 1, NULL)) AS c",
    )


def warm_session(spark, sf_dir: str) -> None:
    """Warm-up outside any per-query timing:
    - the calib3 plan once, so JVM/codegen startup isn't billed to the first
      query and the plan's first-run compile isn't billed to the first timed
      calib3 sample (the committed bench_out.json's first run of it: 0.88 s vs
      0.52-0.61 s warm); its 129 tasks also warm the JIT on the scheduler,
      agg and shuffle paths every query uses (measured without it: the first
      50 queries 40% slower on a single pass, 4 cores);
    - every fixture table loaded once (schema read + nanos normalization are
      session-cached by the catalog) and its files touched, so the first
      query per table isn't billed the one-time load + cold page cache;
    - the Python workers spawned once (each local core's worker imports
      pyspark+pandas on first use — ~4 s billed to whichever query touches
      Python first; a cluster amortizes this across the job lifetime)."""
    from quarkus_etl_spark.catalog import TABLES, load_table

    materialize(calib3_plan(spark))
    for tbl in TABLES:
        materialize(load_table(spark, sf_dir, tbl))

    # nested so cloudpickle ships it by value: workers need not import tools
    def _noop_pd(batches):
        yield from batches

    materialize(spark.range(1_000, numPartitions=32).mapInPandas(_noop_pd, "id long"))


def warm_codegen(spark, queries: dict, names, sf_dir: str) -> None:
    """Compile the named queries' plan shapes once at TINY_SF_DIR: the wide
    whole-stage-codegen sources of the dedup/similarity/iterative families
    cost ~10 s on first Janino+JIT compile, billed to whichever query runs
    first. Same plan SHAPE, different (tiny) data, so the timed inputs stay
    untouched; skipped when the tiny fixture is missing or IS the timed
    input. A failure is logged, never raised: the timed run reports it if
    it persists."""
    if not os.path.isdir(TINY_SF_DIR) or os.path.abspath(TINY_SF_DIR) == os.path.abspath(
        sf_dir
    ):
        return
    for name in names:
        try:
            materialize(queries[name](spark, TINY_SF_DIR))
        except Exception:  # noqa: BLE001 - warm-up must never fail the run
            log.exception("codegen warm-up of %s failed", name)


def load_artifact(path: str):
    """Per-query timings and calib3 probe of a bench artifact, as
    `(queries, calib3_sec)` with calib3_sec None when the artifact predates
    the probe (BENCH_r01-r09); None if the file is missing or unusable.

    Accepts full bench.py output, a driver BENCH_r*.json wrapper ({"parsed":
    {...}}), or a driver tail-only record (head truncated: the '"q_name":
    secs' pairs and the calib3 value are salvaged from the raw tail)."""
    try:
        with open(path) as f:
            raw = f.read()
        if not raw.strip():  # say so: an empty file is not a missing one
            print(f"bench artifact {path} is EMPTY: nothing to compare", file=sys.stderr)
            return None
        d = json.loads(raw)
    except (OSError, ValueError):  # missing/corrupt prev is not an error
        return None
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    if "queries" in d:
        return d["queries"], d.get("calib3_sec")
    if isinstance(d.get("tail"), str):
        pairs = re.findall(r'"(q_[a-z0-9_]+)":\s*(-?\d+(?:\.\d+)?)', d["tail"])
        if pairs:
            seen: dict[str, float] = {}
            for k, v in pairs:  # later duplicates (slowest10 section) keep first
                seen.setdefault(k, float(v))
            print(
                f"bench artifact {path} is a tail-only record: salvaged "
                f"{len(seen)} per-query timings (partial inventory)",
                file=sys.stderr,
            )
            m = re.search(r'"calib3_sec":\s*(\d+(?:\.\d+)?)', d["tail"])
            return seen, float(m.group(1)) if m else None
    return None


def host_ratio(calib3_old, calib3_new) -> tuple[float, str | None]:
    """Host-regime ratio new/old from the calib3 probe (the median of the
    fixed 4-wave plan sampled between query batches inside the timed
    window), with the probe name; (1.0, None) when either side lacks it."""
    if calib3_old and calib3_new and calib3_old > 0 and calib3_new > 0:
        return calib3_new / calib3_old, "v3"
    return 1.0, None


def compare(
    old: dict[str, float],
    new: dict[str, float],
    host: float = 1.0,
    threshold: float = REGRESSION_RATIO,
    abs_floor: float = REGRESSION_ABS_SEC,
) -> dict:
    """Compare per-query timings, new side divided by `host`, over the
    queries both sides timed without error.

    Over-the-bar queries (>= threshold x AND >= abs_floor s slower) are
    `flagged`, slowest ratio first, except members of the CC-noise family
    whose ratio stays inside their reviewed bound: those go to `expected`
    with the ratio and the bound, so the reader sees the arithmetic.
    Queries at the same bar in the other direction are `improved`."""
    shared = [n for n in old if n in new and old[n] > 0 and new[n] > 0]
    if not shared:
        return {"shared": []}
    ratio = {n: (new[n] / host) / old[n] for n in shared}
    flagged, expected, improved = [], [], []
    for n in sorted(shared, key=lambda n: -ratio[n]):
        adj = new[n] / host
        if ratio[n] >= threshold and adj - old[n] >= abs_floor:
            r = round(ratio[n], 4)
            bound = CC_NOISE_EXPECTED_SPREAD.get(n)
            if bound is not None and r < bound:
                expected.append(
                    {"query": n, "normalized_ratio": r, "expected_bound": bound}
                )
            else:
                flagged.append(n)
        elif 1 / ratio[n] >= threshold and old[n] - adj >= abs_floor:
            improved.append(n)
    t_old = sum(old[n] for n in shared)
    t_new = sum(new[n] for n in shared)
    return {
        "shared": shared,
        "old_total": t_old,
        "new_total": t_new,
        "raw_ratio": round(t_new / t_old, 4),
        "normalized_ratio": round((t_new / host) / t_old, 4),
        "flagged": flagged,
        "expected": expected,
        "improved": improved,
    }
