"""Compare two bench.py JSON artifacts and print per-query deltas.

Usage:
    python -m tools.bench_compare BENCH_r02.json bench_out.json [--threshold 1.4]

Lists regressions (new/old >= threshold AND absolute slowdown >= 0.5 s),
improvements at the same bar, and inventory changes. Exit code 1 if any
regression — usable as a gate. Over-the-bar entries from the frozen
CC-noise family (tools.harness.CC_NOISE_EXPECTED_SPREAD, VERDICT r10 #3)
that stay inside their reviewed same-code spread bound print as
`expected-var` and do NOT fail the gate; a breach of the bound is a real
regression.

When BOTH artifacts carry a `calib3_sec` host probe (bench.py's median of
a fixed data-independent plan sampled between query batches inside the
timed window), every new-side timing is divided by the calib3 ratio
before thresholding, so pure host drift (measured up to ~1.25x on this
host between identical-code rounds) cancels instead of reading as
regression/improvement. Loader, normalization and classification are the
ones bench.py's `vs_prev` section uses (tools/harness.py), so the two
always agree on the same pair of artifacts.
"""

from __future__ import annotations

import argparse

from tools.harness import (
    REGRESSION_ABS_SEC,
    REGRESSION_RATIO,
    compare,
    host_ratio,
    load_artifact,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=REGRESSION_RATIO)
    ap.add_argument("--abs-floor", type=float, default=REGRESSION_ABS_SEC)
    args = ap.parse_args()

    loaded = []
    for path in (args.old, args.new):
        artifact = load_artifact(path)
        if artifact is None:
            raise SystemExit(f"{path}: no per-query timings")
        loaded.append(artifact)
    (old, calib_old), (new, calib_new) = loaded
    host, probe = host_ratio(calib_old, calib_new)
    if probe:
        print(f"host calib3: old={calib_old:.4f}s new={calib_new:.4f}s "
              f"(new host {host:.4f}x old; new timings divided by this)")
    else:
        print("host calib3: missing on one side, timings compared raw")
    cmp = compare(old, new, host, args.threshold, args.abs_floor)
    if not cmp["shared"]:
        raise SystemExit("no shared queries with positive timings")

    print(f"shared queries: {len(cmp['shared'])}  aggregate "
          f"{cmp['old_total']:.1f}s -> {cmp['new_total']:.1f}s "
          f"({cmp['raw_ratio']:.4f}x raw, "
          f"{cmp['normalized_ratio']:.4f}x host-normalized)")
    print(f"added: {sorted(set(new) - set(old)) or '-'}")
    print(f"removed: {sorted(set(old) - set(new)) or '-'}")
    for tag, names in (("REGRESSION", cmp["flagged"]),
                       ("improvement", cmp["improved"][::-1])):
        for n in names:
            adj = new[n] / host
            print(f"{tag:11s} {n:28s} {old[n]:7.2f}s -> {adj:7.2f}s "
                  f"({adj / old[n]:.2f}x)")
    for e in cmp["expected"]:
        n = e["query"]
        print(f"expected-var {n:28s} {old[n]:7.2f}s -> {new[n] / host:7.2f}s "
              f"({e['normalized_ratio']:.2f}x, inside reviewed CC-noise bound "
              f"{e['expected_bound']}x)")
    raise SystemExit(1 if cmp["flagged"] else 0)


if __name__ == "__main__":
    main()
