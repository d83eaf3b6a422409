"""Query-implementation fingerprints: the record of which implementation
each query last passed the differential harness with.

Per registered query, `tools/fingerprints.json` holds fingerprints of
everything that determines its graded output:

- **src**  — sha256 of the query function's docstring-stripped AST dump
  (direct implementation edits; cheap, no Spark);
- **oracle** — sha256 of the DuckDB oracle SQL ('' for rows-only queries);
- **plan** — sha256 of the NORMALIZED analyzed logical plan at sf0.001
  (catches shared-operator changes the function source can't see —
  r6's asof/cdc fixes are exactly this class). Plan strings are stable
  across sessions once exprIds are normalized. Live-streaming queries
  (q_stream_live_*) EXECUTE a stream when called and return a
  memory-sink scan, so their plan part is skipped — src+oracle still
  fingerprint them, and their semantics are pinned row-exact in
  tests/test_streaming.py;

plus **round** on entries written by `--write`: the newest driver round
on record (CORRECTNESS_r<N>.json) when the entry was written; an entry
without it counts as round 0. `queries.base._graded_last` puts a query
first while its last driver verdict is no newer than that stamp.

- `python -m tools.fingerprint --check` (the round gate) reports every
  registered query whose entry is missing or drifted, and every entry
  left behind by a query that is no longer registered; `--cheap` skips
  the plan part, which needs a live session. tests/test_coverage.py runs
  the cheap check on every pytest run.
- `python -m tools.fingerprint --write` is the one command that records a
  query: it runs the differential harness (`verify.run_all`) at sf0.01
  on every drifted or unrecorded query, records only those that pass,
  drops the entries of unregistered names, and exits nonzero when any
  query failed (its old entry is kept, so `--check` keeps reporting it).
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import inspect
import json
import os
import re
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from quarkus_etl_spark.queries.base import FINGERPRINTS as MANIFEST  # noqa: E402

SF_DIR_DEFAULT = "/root/testdata/sf0.001"
# the scale factor the driver grades at, next to the plan fixtures
GRADE_SF_DIR = os.path.join(os.path.dirname(SF_DIR_DEFAULT), "sf0.01")

# Queries whose callable executes a live micro-batch stream and returns a
# memory-sink scan: the analyzed plan of the RETURNED frame is just the
# sink table, so only src+oracle are fingerprinted.
_NO_PLAN_PREFIXES = ("q_stream_live_",)

_EXPR_ID = re.compile(r"#\d+")
_CACHE_ID = re.compile(r"\bcache_[0-9a-f]+\b")
# higher-order-function lambda variables print with a SESSION-GLOBAL
# counter ("lambda x_483#"): how many lambdas were planned earlier in the
# session leaks into the name — pure noise for fingerprinting
_LAMBDA_VAR = re.compile(r"(?<=lambda )([A-Za-z]+)_\d+#")


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8", "surrogatepass")).hexdigest()[:20]


def _strip_docstrings(node: ast.AST) -> None:
    for n in ast.walk(node):
        if isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Module)
        ):
            body = getattr(n, "body", None)
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                n.body = body[1:] or [ast.Pass()]


def src_fingerprint(fn) -> str:
    """Docstring-stripped AST dump of the function — whitespace/comment/
    docstring edits don't move it; any code edit does."""
    src = textwrap.dedent(inspect.getsource(fn))
    tree = ast.parse(src)
    _strip_docstrings(tree)
    return _sha(ast.dump(tree))


def _norm_plan(plan: str, sf_dir: str) -> str:
    plan = _LAMBDA_VAR.sub(r"\1_#", plan)
    plan = _EXPR_ID.sub("#", plan)
    plan = _CACHE_ID.sub("cache_", plan)
    plan = plan.replace(sf_dir, "<SF>").replace(REPO, "<REPO>")
    # q_join_bucketed registers PID-suffixed catalog tables/paths
    # (orders_bk_<sftag>_<pid>, .../bk_orders_<pid>) so concurrent harness
    # processes never collide — the suffix is session noise here. The
    # replacement is ANCHORED to the bk_ token: a bare str(pid)
    # substitution once mangled whichever query's float literals (probe
    # vectors, centroids) happened to contain the current PID's digit
    # run, flagging a different random victim every run.
    plan = re.sub(
        rf"(bk_[a-z0-9_]*?){os.getpid()}\b", r"\g<1><PID>", plan
    )
    # lifecycle scratch dirs are keyed .scratch/<sf>.pid<pid>/ since r11
    # (".pid" spelling per ADVICE r10 — a bare ".<pid>" suffix was
    # ambiguous against legitimate sf names like sf0.1 when the pid's
    # digits coincide, e.g. pid 1 in a container; ".pid" never occurs in a
    # scale-factor name so this strip can't mangle unrelated paths). The
    # pid is session noise exactly like the bk_ suffix above. It is
    # DROPPED (not replaced by a token): pre-r10 plans carried the bare
    # .scratch/<sf>/ path, so erasing the token reproduces the historical
    # normal form and the committed lifecycle fingerprints stay valid — a
    # path-only re-keying is not an implementation change and must not
    # look like one.
    plan = re.sub(
        rf"(\.scratch/[^/\s]*?)\.pid{os.getpid()}\b", r"\g<1>", plan
    )
    return plan


def plan_fingerprint(spark, sf_dir: str, fn) -> str:
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    return _sha(_norm_plan(plan, sf_dir))


def cheap_fingerprints() -> dict[str, dict[str, str]]:
    """src+oracle parts for every registered query. No Spark session."""
    from quarkus_etl_spark.queries.base import ORACLES, all_query_callables

    qs = all_query_callables()
    return {
        name: {"src": src_fingerprint(fn), "oracle": _sha(ORACLES.get(name, ""))}
        for name, fn in qs.items()
    }


def full_fingerprints(spark, sf_dir: str) -> dict[str, dict[str, str]]:
    from quarkus_etl_spark.queries.base import all_query_callables

    out = cheap_fingerprints()
    qs = all_query_callables()
    # name order, not grading order: recording a query moves it in the
    # grading order, and a plan must not depend on what ran before it
    for name in sorted(qs):
        if name.startswith(_NO_PLAN_PREFIXES):
            continue
        out[name]["plan"] = plan_fingerprint(spark, sf_dir, qs[name])
    return out


def load_manifest() -> dict[str, dict]:
    try:
        with open(MANIFEST) as fh:
            return json.load(fh)
    except OSError:
        return {}


def diff_against_manifest(
    current: dict[str, dict[str, str]], manifest: dict[str, dict]
) -> dict[str, str]:
    """name -> why its manifest entry does not describe the registered
    query. Only the parts present in `current` are compared, so a cheap
    (src+oracle) `current` ignores the plan part."""
    problems = {}
    for name, cur in current.items():
        old = manifest.get(name)
        if old is None:
            problems[name] = "no manifest entry"
            continue
        drifted = [part for part, v in cur.items() if old.get(part) != v]
        if drifted:
            problems[name] = "/".join(drifted) + " fingerprint drifted"
    for name in manifest.keys() - current.keys():
        problems[name] = "entry for a query that is no longer registered"
    return problems


def record(
    spark, current: dict[str, dict[str, str]], manifest: dict[str, dict]
) -> list[str]:
    """Re-verify every drifted or unrecorded query at the driver's scale
    factor and write the manifest: passing queries get their current
    fingerprints stamped with the newest driver round on record, failing
    ones keep their old entry, unregistered names are dropped. Returns
    the failing queries."""
    from quarkus_etl_spark.queries.base import _last_graded_rounds
    from quarkus_etl_spark.verify import run_all

    names = sorted(n for n in diff_against_manifest(current, manifest) if n in current)
    # run_all treats an empty name list as "every query"
    results = run_all(spark, GRADE_SF_DIR, names) if names else []
    newest = max(_last_graded_rounds().values(), default=0)
    out = {n: e for n, e in manifest.items() if n in current}
    for r in results:
        print(f"{'OK  ' if r.ok else 'FAIL'} {r.name} {r.error}")
        if r.ok:
            out[r.name] = {**current[r.name], "round": newest}
    with open(MANIFEST, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(out)} fingerprints -> {MANIFEST}")
    return [r.name for r in results if not r.ok]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--check", action="store_true",
                    help="verify the manifest and exit nonzero on drift — the "
                         "default when --write is absent; the explicit flag "
                         "exists so the round battery drives all three "
                         "manifest gates (plan_audit / type_audit / "
                         "fingerprint) with the same --check one-liner "
                         "(VERDICT r9 #7)")
    ap.add_argument("--write", action="store_true",
                    help="re-verify drifted queries and record those that pass")
    ap.add_argument("--cheap", action="store_true",
                    help="check only src+oracle parts (no Spark session)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR_FP", SF_DIR_DEFAULT))
    args = ap.parse_args(argv)
    if args.check and args.write:
        ap.error("--check and --write are mutually exclusive")

    if args.cheap and not args.write:
        current = cheap_fingerprints()
    else:
        from quarkus_etl_spark.session import get_spark

        spark = get_spark()
        current = full_fingerprints(spark, args.sf)
    manifest = load_manifest()

    if args.write:
        failed = record(spark, current, manifest)
        if failed:
            print(f"NOT RECORDED ({len(failed)} failing): {' '.join(failed)}")
        return 1 if failed else 0

    problems = diff_against_manifest(current, manifest)
    if problems:
        print(f"FINGERPRINT DRIFT ({len(problems)}) — run --write to re-verify and record:")
        for name in sorted(problems):
            print(f"  {name}: {problems[name]}")
        return 1
    print(f"fingerprints consistent: {len(current)} queries "
          f"({'cheap' if args.cheap else 'full'} check)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
