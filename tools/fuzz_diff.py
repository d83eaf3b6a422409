"""Adversarial-fixture differential sweep: mutate the parquet fixtures with
seeded edge-case values, then run the FULL Spark-vs-DuckDB verify harness
over the mutated copy.

The driver only ever grades on its pristine fixtures, so this tool's job is
different from verify.py's: it answers "do the two engines still agree when
the data contains the edge cases real corpora have" — exact ties, duplicate
timestamps, unicode/whitespace text, empty and single-token documents,
near/exact duplicate docs, singleton group keys, zero/duplicate embeddings,
extreme numeric values, quote/comma/newline-bearing strings. Any divergence
is a latent correctness bug the fixture simply never exercised.

Mutation classes are phased so a failure is attributable:
  phase 1 (default): ties, duplicates, unicode, whitespace, singleton
          blocks, numeric extremes, csv-hostile strings — values every
          pipeline sees.
  phase 2: empty text, single-token docs, zero vectors — degenerate but
          well-typed rows.
  phase 3: NULL text / value / props, NULL GROUP KEYS (lang, source,
          event_type, label), NULL measures (l_quantity, l_discount,
          o_totalprice) including one ALL-NULL-measure group — missing-data
          and missing-metadata semantics.
  phase 4: temporal extremes (pre-epoch 1900 / epoch-0 / far-future 2200
          timestamps and dates — pre-epoch bucketing is where floor-vs-
          truncate window math diverges) and hostile group keys (case
          variants, trailing whitespace, NFC-vs-NFD combining chars,
          empty string ≠ NULL) — clock-skewed sources and dirty metadata.
  phase 5: REFERENTIAL hostility — orphan foreign keys (o_custkey /
          l_orderkey / l_partkey / l_suppkey / c_nationkey / s_nationkey /
          events.user_id pointing at nothing), duplicated primary keys
          (o_orderkey, c_custkey double-ingestion), and NULL join/
          partition keys (user_id, plus every FK above) — the shapes
          schema drift and at-least-once ingestion produce. Joins must
          agree on drop/fan-out/NULL-group semantics in both engines.
  phase 6: HOT-DUPLICATE multiplicity — one document text and one
          embedding vector each cloned into ~50 rows (the boilerplate-
          page / default-embedding shape). Exercises the r7 duplicate-
          collapse (knn_graph_ann), the pre-collect LSH bucket gates,
          and dup-burst group semantics differentially where oracles
          exist (simhash/minhash/ngram pairs, dedup clusters).
  phase 7: FLOAT-REGIME hostility — non-finite embedding vectors (NaN /
          ±Inf components, all-NaN, signed-zero and float32-subnormal
          vectors: failed-encoder rows) plus -0.0 / denormal measure
          values. NaN/±Inf MEASURES are deliberately excluded: under ANSI
          both engines fail loudly (at divergent cast sites) when a
          non-finite crosses an int/decimal bridge — a documented
          precondition (upstream DQ repair), not a comparable semantic.
          Non-finite VECTORS are admitted and must hit the shared
          "non-finite ≡ missing embedding" convention (base.emb /
          vectors.vec_contract_to_null) identically in both engines —
          the r11 recon found Spark's null-skipping [-1,1] clamp silently
          rewrote NaN cosines to 1.0 while DuckDB ordered them greatest
          (13 queries diverged before the convention).
  phase 8: VECTOR SHAPE DRIFT — ragged embeddings (32/80/1-dim rows in
          the declared 64-dim column: encoder version skew) and EMPTY
          lists. Spark zip_with silently NULL-pads ragged pairs; DuckDB
          list kernels raise on them, and an empty list fatally
          invalidates the DuckDB database — the dim=64 leg of the
          contract guard must exclude all of them structurally in both
          engines.
  --tiny (orthogonal): pure truncation to single-digit row counts —
          .first()-on-empty, empty-aggregation, all-rows-filtered paths.

Usage:
  python -m tools.fuzz_diff [--seed 7] [--phase 2] [--tiny] [--base sf0.001] [query ...]

Writes the mutated tables to .scratch/fuzz/seed<seed>_p<phase>/ and exits
nonzero on any mismatch, printing the per-query verdicts like verify.py.
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

UNICODE_TEXTS = [
    "héllo wörld naïve café résumé ça és ému",
    "你好 世界 数据 管道 质量 检查 你好 世界",
    "Ωμέγα ἀλφα δέλτα σίγμα ωμέγα πάλιν",
    "mixed 你好 wörld données 123 تجربة test",
]
CSV_HOSTILE = [
    'quote " inside',
    "comma, inside, twice",
    "newline\ninside",
    'all three: ", \n done',
    "trailing space ",
]


def _grabber(idx: list[int], table: str = "?"):
    """Bounded index dispenser over a pre-shuffled pool: grab(k) hands out
    AT MOST k distinct row indexes and simply returns fewer (possibly zero)
    once the pool is exhausted — on a small --base table the later mutation
    classes degrade gracefully instead of crashing the fuzz build with
    StopIteration (ADVICE r6). A short grab is LOGGED so a dropped mutation
    class is visible in the build output instead of silently reducing
    coverage (ADVICE r9 #3 — the r9 FK extension grew lineitem's full-phase
    budget to ~21*pct draws and customer/supplier grew too, so tiny bases
    exhaust earlier than the old "~17*pct" note claimed; the highest-value
    phase-5 FK classes are additionally drawn FIRST in their mutators)."""
    it = iter(idx)

    def grab(k: int) -> list[int]:
        import itertools

        out = list(itertools.islice(it, max(k, 0)))
        if len(out) < k:
            print(
                f"fuzz: {table} index pool exhausted — a mutation class got "
                f"{len(out)}/{k} rows (tiny base; later classes may draw 0)",
                file=sys.stderr,
            )
        return out

    return grab


def _mutate_documents(rows: list[dict], rng: random.Random, phase: int) -> None:
    n = len(rows)
    idx = list(range(n))
    rng.shuffle(idx)
    grab = _grabber(idx, "documents")
    pct = max(1, n // 100)
    # phase 1: duplicates / near-duplicates / unicode / whitespace /
    # repeated-token spam / singleton blocks
    for i in grab(2 * pct):  # exact duplicate of another doc
        src = rows[rng.randrange(n)]
        rows[i]["text"] = src["text"]
    for i in grab(2 * pct):  # near duplicate: last word changed
        src = rows[rng.randrange(n)]
        toks = (src["text"] or "x").split()
        toks[-1:] = ["zzedit"]
        rows[i]["text"] = " ".join(toks)
    for i in grab(2 * pct):
        rows[i]["text"] = rng.choice(UNICODE_TEXTS)
    for i in grab(2 * pct):
        rows[i]["text"] = "a  b\t\tc\n\n d   e\tf "
    for i in grab(2 * pct):  # one token repeated: repetition-filter edge
        rows[i]["text"] = " ".join(["spam"] * 50)
    for i in grab(pct):  # book-length doc: sorted-run path
        rows[i]["text"] = " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta"]) for _ in range(3000)
        )
    for i in grab(pct):  # singleton language block
        rows[i]["lang"] = "xx"
    for i in grab(pct):
        rows[i]["source"] = "src_only_once"
    # NOT mutated: doc_id uniqueness. The per-row operators (simhash,
    # minhash signatures) hash each ROW zero-shuffle while the SQL oracles
    # aggregate features per id — with two texts under one id the two
    # views are legitimately different answers to an ill-posed input.
    # Unique ids are the documented operator precondition; double-ingestion
    # is exactly what the upstream exact-dedup stage exists to repair.
    if phase >= 2:
        for i in grab(pct):
            rows[i]["text"] = ""
        for i in grab(pct):
            rows[i]["text"] = "solo"
        for i in grab(pct):
            rows[i]["text"] = "   "  # whitespace-only
    if phase >= 3:
        for i in grab(pct):
            rows[i]["text"] = None
        for i in grab(pct):  # missing language metadata: NULL group/block key
            rows[i]["lang"] = None
        for i in grab(pct):
            rows[i]["source"] = None
    if phase >= 4:
        # Hostile group keys: binary-distinct variants that LOOK alike.
        # Neither engine may normalize/trim/case-fold a key on its own —
        # each variant must stay its own group in BOTH engines.
        for i in grab(pct):
            rows[i]["lang"] = "EN"  # case variant of 'en'
        for i in grab(pct):
            rows[i]["lang"] = "en "  # trailing space
        for i in grab(pct):
            rows[i]["lang"] = ""  # empty string: a key, unlike NULL
        for i in grab(pct):  # NFD (e + combining acute) source ...
            rows[i]["source"] = "cafe\u0301"
        for i in grab(pct):  # ... vs its NFC (e-acute) sibling
            rows[i]["source"] = "caf\u00e9"
    if phase >= 6:
        # HOT duplicate: one boilerplate text cloned across ~50 rows (ids
        # stay unique — only the content duplicates). Short fixed text so
        # the O(L^2) fuzzy-verify stage stays cheap; a second burst of
        # near-copies (one token appended) exercises near-identical
        # signatures that still differ in some band.
        hot = "standard cookie consent banner text shown on every mirror page"
        for i in grab(50):
            rows[i]["text"] = hot
            rows[i]["lang"] = "en"
        for i in grab(30):
            rows[i]["text"] = hot + " today"
            rows[i]["lang"] = "en"
    for r in rows:
        r["n_chars"] = len(r["text"]) if r["text"] is not None else 0


def _mutate_embeddings(rows: list[dict], rng: random.Random, phase: int) -> None:
    n = len(rows)
    idx = list(range(1, n))  # keep vec 0 (the probe) pristine
    rng.shuffle(idx)
    grab = _grabber(idx, "embeddings")
    pct = max(1, n // 100)
    for i in grab(2 * pct):  # exact duplicate vectors (ties in cosine)
        src = rows[rng.randrange(n)]
        rows[i]["embedding"] = list(src["embedding"])
    for i in grab(pct):  # constant vector
        rows[i]["embedding"] = [0.5] * len(rows[i]["embedding"])
    if phase >= 2:
        for i in grab(pct):  # zero vector: norm-0 guards
            rows[i]["embedding"] = [0.0] * len(rows[i]["embedding"])
    for i in grab(pct):
        rows[i]["label"] = 2**31 - 1
    if phase >= 3:
        for i in grab(pct):  # unlabeled vectors: NULL groupBy key
            rows[i]["label"] = None
        # missing embeddings (failed-encoder rows): NULL cosine
        # propagation + source filters
        for i in grab(pct):
            rows[i]["embedding"] = None
    if phase >= 6:
        # HOT duplicate vector: ~50 rows share one embedding (and one
        # label, so they block together) — the multiplicity shape that
        # defeats LSH plane splitting; exercises the r7 duplicate
        # collapse + bounded fellow-expansion end to end.
        src = rows[rng.randrange(1, n)]
        for i in grab(50):
            rows[i]["embedding"] = list(src["embedding"]) if src["embedding"] else [0.25] * 64
            rows[i]["label"] = src["label"]
    if phase >= 7:
        # failed-encoder NON-FINITE vectors (the realistic sibling of the
        # phase-3 NULL embedding): one NaN component, an all-NaN vector,
        # one +Inf component, sign-flipped zeros, and a float32-subnormal
        # vector (1e-45 underflows any squared-norm math). Norm guards and
        # the clamped-cosine convention must agree in both engines.
        def _poke(i, val, j=0, whole=False):
            e = rows[i]["embedding"]
            if not e:
                return
            e = list(e)
            if whole:
                e = [val] * len(e)
            else:
                e[j % len(e)] = val
            rows[i]["embedding"] = e

        for i in grab(max(1, pct // 2)):
            _poke(i, float("nan"), j=3)
        for i in grab(max(1, pct // 4)):
            _poke(i, float("nan"), whole=True)
        for i in grab(max(1, pct // 2)):
            _poke(i, float("inf"), j=7)
        for i in grab(max(1, pct // 2)):
            _poke(i, -0.0, whole=True)
        for i in grab(max(1, pct // 4)):
            _poke(i, 1e-45, whole=True)
    if phase >= 8:
        # VECTOR SHAPE DRIFT: encoder version skew and truncated/failed
        # writes produce vectors whose length breaks the column's declared
        # dim=64 contract. These are NOT benign: Spark's zip_with silently
        # NULL-pads the shorter side, DuckDB's list_cosine_similarity
        # raises on ragged input, and an EMPTY list trips a DuckDB
        # INTERNAL error that fatally invalidates the whole database —
        # one such row would kill every later oracle in the session. The
        # contract guard (base.emb len=64 leg / SQL_EMB_FINITE) must
        # structurally exclude them in both engines before any list
        # kernel runs.
        def _resize(i, newlen):
            e = rows[i]["embedding"]
            if not e:
                return
            e = list(e)
            e = (e * (newlen // max(len(e), 1) + 1))[:newlen]
            rows[i]["embedding"] = e

        for i in grab(max(1, pct // 2)):  # truncated write
            _resize(i, 32)
        for i in grab(max(1, pct // 2)):  # newer 80-dim encoder
            _resize(i, 80)
        for i in grab(max(1, pct // 4)):  # empty list (≠ NULL!)
            rows[i]["embedding"] = []
        for i in grab(max(1, pct // 4)):  # scalar-collapsed vector
            _resize(i, 1)


def _mutate_events(rows: list[dict], rng: random.Random, phase: int) -> None:
    n = len(rows)
    idx = list(range(n))
    rng.shuffle(idx)
    grab = _grabber(idx, "events")
    pct = max(1, n // 100)
    for i in grab(3 * pct):  # duplicate (user_id, ts): tiebreak stress
        src = rows[rng.randrange(n)]
        rows[i]["user_id"] = src["user_id"]
        rows[i]["ts"] = src["ts"]
    for next_i in grab(2 * pct):
        rows[next_i]["value"] = rng.choice([0.0, 1e12, -1e12, 1e-12])
    for i in grab(pct):
        rows[i]["props"] = rng.choice(['{}', '{"k": 0}', '{"k": -1, "m": {"x": 1}}'])
    for i in grab(pct):  # double-delivered event: duplicate event_id
        src = rows[rng.randrange(n)]
        if src["event_id"] != rows[i]["event_id"]:
            rows[i]["event_id"] = src["event_id"]
    if phase >= 3:
        for i in grab(pct):
            rows[i]["value"] = None
        for i in grab(pct):
            rows[i]["props"] = None
        for i in grab(pct):  # untyped events: NULL groupBy key
            rows[i]["event_type"] = None
    if phase >= 4:
        import datetime as _dt

        # Temporal boundary edges within ±1 year of the data: year boundary
        # (bucket/window alignment), leap day (calendar math), max-µs
        # instants (rounding). PLUS wide clock-skew extremes (pre-epoch
        # 1900, far-future 2200): since r6 the graded gapfill queries carry
        # an identical [1970, 2100) domain guard in BOTH engines, so these
        # now exercise the guard (and every non-densifying temporal query)
        # instead of collapsing the compare under a 10M-row dense grid.
        for ts in (
            _dt.datetime(2023, 12, 31, 23, 59, 59, 999999),
            _dt.datetime(2024, 2, 29, 12, 0, 0),
            _dt.datetime(2024, 12, 31, 23, 59, 59, 999999),
        ):
            for i in grab(max(1, pct // 2)):
                rows[i]["ts"] = ts
        for ts in (
            _dt.datetime(1900, 6, 15, 12, 0, 0),
            _dt.datetime(2200, 1, 1, 0, 0, 1),
        ):
            for i in grab(max(1, pct // 4)):
                rows[i]["ts"] = ts
    if phase >= 5:
        for i in grab(pct):  # anonymous events: NULL partition/join key
            rows[i]["user_id"] = None
        for i in grab(pct):  # user deleted upstream: orphan FK
            if rows[i]["user_id"] is not None:
                rows[i]["user_id"] = rows[i]["user_id"] + 10_000_000
    if phase >= 7:
        # FLOAT-REGIME hostility, scoped to what the pipeline contract
        # admits. Underflowing divisions produce -0.0 and subnormals, and
        # every sort/group/hash/bucket path must agree on them cell-for-
        # cell (the verify hash distinguishes the sign of zero). NaN/±Inf
        # MEASURES are deliberately NOT injected: a recon sweep (r11,
        # seed 151) showed both engines fail loudly in ANSI mode when a
        # non-finite crosses any int/decimal bridge (Spark CAST_OVERFLOW,
        # DuckDB ConversionException) — at divergent sites, so there is no
        # cross-engine agreement to test, only crash-site trivia. The
        # documented posture: non-finite measures are a precondition
        # violation the upstream DQ stage repairs; ANSI fail-loudly is the
        # correct behavior when one leaks through. Non-finite EMBEDDINGS
        # (failed encoders) ARE admitted — see _mutate_embeddings.
        for v in (-0.0, 5e-324, -5e-324):
            for i in grab(max(1, pct // 2)):
                rows[i]["value"] = v


def _mutate_lineitem(rows: list[dict], rng: random.Random, phase: int) -> None:
    n = len(rows)
    idx = list(range(n))
    rng.shuffle(idx)
    grab = _grabber(idx, "lineitem")
    pct = max(1, n // 100)
    if phase >= 5:
        # REFERENTIAL classes draw FIRST (ADVICE r9 #3): lineitem's full-
        # phase budget (~21*pct since the r9 FK extension) exhausts a tiny
        # --base pool before reaching a tail-positioned FK block, which
        # would silently cancel exactly the NULL/orphan-FK coverage the
        # extension added. Grab indexes are distinct across classes, so
        # drawing these first changes only WHICH rows carry each mutation.
        for i in grab(pct):  # orphan lines: order deleted/never ingested
            rows[i]["l_orderkey"] = rows[i]["l_orderkey"] + 10_000_000
        for i in grab(pct):  # order id lost in transit: NULL FK/PK-part
            rows[i]["l_orderkey"] = None
        # r9 extension (VERDICT r8 #4): the other lineitem FKs the TPC-H
        # shapes join through (q2/q9/q14/q16/q17/q19/q20 via l_partkey,
        # q15/q16/q21 via l_suppkey) — and q_agg_hll_merge sketches
        # l_partkey, where a NULL must not count as a distinct value.
        for i in grab(pct):  # part catalog pruned upstream: orphan FK
            rows[i]["l_partkey"] = rows[i]["l_partkey"] + 10_000_000
        for i in grab(pct):  # part id lost in transit: NULL FK
            rows[i]["l_partkey"] = None
        for i in grab(pct):  # supplier delisted: orphan FK
            rows[i]["l_suppkey"] = rows[i]["l_suppkey"] + 10_000_000
        for i in grab(pct):  # supplier id lost in transit: NULL FK
            rows[i]["l_suppkey"] = None
    for i in grab(3 * pct):  # exact-tie quantities: percentile/mode stress
        rows[i]["l_quantity"] = 25.0
    for i in grab(2 * pct):  # tie prices
        rows[i]["l_extendedprice"] = 10000.0
    for i in grab(pct):
        rows[i]["l_discount"] = 0.0
    for i in grab(pct):  # duplicate ship dates within an order
        src = rows[rng.randrange(n)]
        rows[i]["l_shipdate"] = src["l_shipdate"]
    for i in grab(pct):  # returns/credits: negative money
        rows[i]["l_extendedprice"] = -rng.choice([1.0, 250.5, 9999.99])
    for i in grab(pct):
        rows[i]["l_quantity"] = 0.0
    if phase >= 3:
        for i in grab(pct):  # missing measures (point NULLs)
            rows[i]["l_quantity"] = None
        for i in grab(pct):
            rows[i]["l_discount"] = None
    if phase >= 7:
        # underflow-signed zero discount: (1 - -0.0) folds to 1.0 in both
        # engines, but a raw projection/group on the column must keep the
        # sign-distinct cell identical cross-engine. (NaN/Inf measures
        # excluded by the ANSI fail-loudly posture — see _mutate_events.)
        for i in grab(max(1, pct // 2)):
            rows[i]["l_discount"] = -0.0
    if phase >= 5:
        # ALL-NULL measure group: every quantity of one return-flag group
        # becomes NULL. Point NULLs (~1%) can never produce this shape, and
        # it is the one that erased a whole group from median/MAD-style
        # plans (inner join to a NULL-dropping stats table — ADVICE r4,
        # q_outlier_mad). Both engines must keep the group with NULL stats.
        flag = min(r["l_returnflag"] for r in rows if r["l_returnflag"])
        for r in rows:
            if r["l_returnflag"] == flag:
                r["l_quantity"] = None


def _mutate_orders(rows: list[dict], rng: random.Random, phase: int) -> None:
    n = len(rows)
    idx = list(range(n))
    rng.shuffle(idx)
    grab = _grabber(idx, "orders")
    pct = max(1, n // 100)
    if phase >= 5:
        # referential classes first — same starvation rationale as lineitem
        for i in grab(pct):  # customer deleted upstream: orphan FK
            rows[i]["o_custkey"] = rows[i]["o_custkey"] + 10_000_000
        for i in grab(pct):  # customer id lost in transit: NULL FK
            rows[i]["o_custkey"] = None
        for i in grab(pct):  # at-least-once ingestion: duplicate PK
            src = rows[rng.randrange(n)]
            if src["o_orderkey"] != rows[i]["o_orderkey"]:
                rows[i]["o_orderkey"] = src["o_orderkey"]
    for i in grab(2 * pct):  # totalprice ties
        rows[i]["o_totalprice"] = 150000.0
    for i in grab(2 * pct):  # duplicate orderdate (windows/asof ties)
        src = rows[rng.randrange(n)]
        rows[i]["o_orderdate"] = src["o_orderdate"]
    for i in grab(pct):  # csv-hostile priority strings
        rows[i]["o_orderpriority"] = rng.choice(CSV_HOSTILE)
    for i in grab(pct):  # credit orders: negative / zero totals
        rows[i]["o_totalprice"] = rng.choice([-1234.56, 0.0])
    if phase >= 3:
        for i in grab(pct):  # missing totals (point NULLs)
            rows[i]["o_totalprice"] = None
    if phase >= 7:
        for i in grab(max(1, pct // 2)):  # underflow-signed zero total
            rows[i]["o_totalprice"] = -0.0
    if phase >= 4:
        import datetime as _dt

        # date extremes: pre-epoch and century-boundary order dates hit
        # year()/date-filter/cohort paths where engines' calendar math can
        # differ (proleptic vs hybrid calendars, negative epoch days)
        for d in (_dt.datetime(1900, 1, 1), _dt.datetime(2099, 12, 31)):
            for i in grab(max(1, pct // 2)):
                rows[i]["o_orderdate"] = d


def _mutate_customer(rows: list[dict], rng: random.Random, phase: int) -> None:
    if phase < 5:
        return
    n = len(rows)
    idx = list(range(n))
    rng.shuffle(idx)
    grab = _grabber(idx, "customer")
    pct = max(1, n // 100)
    for i in grab(pct):  # double-ingested dimension rows: duplicate PK
        src = rows[rng.randrange(n)]
        if src["c_custkey"] != rows[i]["c_custkey"]:
            rows[i]["c_custkey"] = src["c_custkey"]
    # r9 (VERDICT r8 #4): the customer->nation FK (q_tpch_q2/q5/q7/q8/q10
    # join through it) — region reorg orphans + lost ids
    for i in grab(pct):
        rows[i]["c_nationkey"] = rows[i]["c_nationkey"] + 10_000_000
    for i in grab(pct):
        rows[i]["c_nationkey"] = None


def _mutate_supplier(rows: list[dict], rng: random.Random, phase: int) -> None:
    if phase < 5:
        return
    n = len(rows)
    idx = list(range(n))
    rng.shuffle(idx)
    grab = _grabber(idx, "supplier")
    pct = max(1, n // 100)
    # r9 (VERDICT r8 #4): the supplier->nation FK (q_tpch_q2/q5/q7/q8/q9
    # join through it; q21 FILTERS on it — NULLs must drop identically)
    for i in grab(pct):
        rows[i]["s_nationkey"] = rows[i]["s_nationkey"] + 10_000_000
    for i in grab(pct):
        rows[i]["s_nationkey"] = None


MUTATORS = {
    "customer": _mutate_customer,
    "supplier": _mutate_supplier,
    "documents": _mutate_documents,
    "embeddings": _mutate_embeddings,
    "events": _mutate_events,
    "lineitem": _mutate_lineitem,
    "orders": _mutate_orders,
}


# --mode tiny: degenerate-cardinality fixtures — single-digit row counts
# expose .first()-on-empty, empty-aggregation, and all-rows-filtered paths
# that normal scale factors never reach. Row 0 of documents/embeddings is
# always kept (the probe/doc-0 parameters some queries fetch).
TINY_ROWS = {
    "documents": 7, "embeddings": 9, "events": 25,
    "lineitem": 40, "orders": 20, "customer": 8, "part": 10,
}


def build_fuzz_dir(
    base_dir: str, out_dir: str, seed: int, phase: int, tiny: bool = False
) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        src = f"{base_dir}/{name}.parquet"
        dst = f"{out_dir}/{name}.parquet"
        table = pq.read_table(src)
        if tiny:
            # pure truncation: the mutators' grab budgets assume hundreds of
            # rows, and degenerate CARDINALITY is the thing under test here
            if name in TINY_ROWS:
                table = table.slice(0, TINY_ROWS[name])
            pq.write_table(table, dst)
            continue
        mut = MUTATORS.get(name)
        if mut is None:
            pq.write_table(table, dst)
            continue
        rows = table.to_pylist()
        # crc32, not hash(): str hash is PYTHONHASHSEED-salted per process,
        # which would make --seed non-reproducible across runs.
        mut(rows, random.Random(seed * 1009 + zlib.crc32(name.encode()) % 997), phase)
        out = pa.Table.from_pylist(rows, schema=table.schema)
        pq.write_table(out, dst)
    return out_dir


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--phase", type=int, default=1, choices=(1, 2, 3, 4, 5, 6, 7, 8))
    ap.add_argument("--base", default="/root/testdata/sf0.001")
    ap.add_argument("--tiny", action="store_true",
                    help="degenerate-cardinality tables (single-digit rows)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    suffix = "_tiny" if args.tiny else ""
    # encode the base fixture in the dir name: an sf0.01-based run must not
    # silently overwrite (and masquerade as) the default sf0.001 one
    base_tag = os.path.basename(os.path.normpath(args.base))
    if base_tag != "sf0.001":
        suffix += f"_{base_tag}"
    out_dir = os.path.join(
        REPO, ".scratch", "fuzz", f"seed{args.seed}_p{args.phase}{suffix}"
    )
    build_fuzz_dir(args.base, out_dir, args.seed, args.phase, tiny=args.tiny)
    print(f"fuzz fixtures: {out_dir}")

    from quarkus_etl_spark import verify

    sys.argv = ["verify", out_dir, *args.queries]
    return verify.main()


if __name__ == "__main__":
    raise SystemExit(main())
