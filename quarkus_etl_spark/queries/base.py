"""Query registry + determinism helpers for the oracle harness.

Every query from SURVEY.md §2 registers here as
    (name) -> callable(spark, sf_dir) -> DataFrame
optionally with a DuckDB oracle SQL string. `all_query_callables()` and
`all_oracles()` emit the registry in grading order (`_graded_last`),
derived from the committed driver records and the fingerprint manifest.
The driver hash-compares values
order-insensitively but EXACTLY, so cross-engine float determinism is part of
the engine contract (SURVEY.md §7.4 "known-hard list"):

- Aggregates over doubles are computed via exact DECIMAL arithmetic and cast
  back to double: both engines then produce bit-identical IEEE values,
  regardless of summation order / partial-aggregation splits.
- Averages are `exact_decimal_sum::double / count` — one deterministic double
  division instead of an engine-specific streaming mean.
- Every computed column is aliased identically in Spark and SQL.
- Any LIMIT is preceded by a full-key ORDER BY tiebreak.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and its DuckDB oracle) to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} (a second register() "
                "would silently shadow the graded implementation)"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (lazy scan; pushdown-friendly)."""
    return load_table(spark, sf_dir, name)


# The embeddings fixture's declared vector dimension (FIXTURES.md). Rows
# that drift from it (encoder version skew, truncated/empty writes) are
# failed encodes, mapped to missing by the load-time contract guard.
EMB_DIM = 64


def emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with the failed-encoder contract guard applied
    at load: a vector containing any non-finite component (r11 fuzz
    phase 7) OR whose length differs from the declared EMB_DIM (phase 8 —
    ragged/empty vectors: Spark zip_with silently NULL-pads, DuckDB
    list kernels raise, an empty list fatally invalidates DuckDB) is
    mapped to NULL (= missing embedding), so every downstream round-4
    NULL convention covers it with no per-query logic. Oracles mirror the
    guard with functions.vectors.SQL_EMB_FINITE in their structural
    vector filter."""
    from ..functions.vectors import vec_contract_to_null

    return t(spark, sf_dir, "embeddings").withColumn(
        "embedding", vec_contract_to_null("embedding", EMB_DIM)
    )


_VIEWS_READY: set[tuple[str, str]] = set()


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixtures as temp views once per (session, sf_dir) so
    SQL-path queries (CTEs, subqueries, grouping sets) can run."""
    from ..catalog import _session_key, register_views

    key = (_session_key(spark), sf_dir)
    if key in _VIEWS_READY:
        return
    register_views(spark, sf_dir)
    _VIEWS_READY.add(key)


# ---------------------------------------------------------------------------
# Cross-engine exact-arithmetic helpers (Spark side + SQL-text side).
# Money-like fixture doubles carry ≤2 decimal digits, so DECIMAL(18,2) is a
# lossless container; sums in decimal are exact in both engines.
#
# DELIBERATE EXEMPTION from the string-bridge (pin per VERDICT r9 #5): the
# direct `CAST(decimal AS DOUBLE)` these helpers emit is only safe while the
# decimal's integer magnitude stays under 2^53 — past that, DuckDB's
# int128→double conversion is NOT correctly rounded (measured 1 ULP off
# Spark's BigDecimal cast, r9 fuzz seed 53 phase 6), and the remedy is to
# bridge decimal→double THROUGH A STRING on both engines (decimal text
# parses correctly rounded everywhere; see q_agg_corr and the three
# embedding-moment queries in northstar_q.py, which sum floor(x*1e15)
# fixed-point terms at 1e14+ scale and DID cross 2^53 under a hot-duplicate
# burst). This scale-2 money family stays direct-cast ON PURPOSE: its sums
# are bounded by |rows|·max(|price|) ≈ 6e6·1e5 = 6e11 at sf1 — three orders
# of magnitude under 2^53 even at a 100× gate scale-up — the r9 stretch
# probe drove 1e12 value extremes through all 17 events-value aggregators
# without reaching the class, and five rounds of fuzz never hit it. Do not
# "fix" these helpers to the string form blindly (it would churn 100+ green
# oracle fingerprints for no semantic change), and do not widen their use
# to fixed-point families at 1e15 scale (those MUST use the string bridge).
# ---------------------------------------------------------------------------

DEC = "decimal(18,2)"


def dec2(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(DEC)


def dsum(c: Column | str, alias: str) -> Column:
    """Exact sum of a 2-dp double column, returned as double."""
    return F.sum(dec2(c)).cast("double").alias(alias)


def davg(c: Column | str, alias: str) -> Column:
    """Deterministic mean: exact decimal sum cast to double, / count."""
    c = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec2(c)).cast("double") / F.count(c)).alias(alias)


# The text normalization + whitespace tokenization of
# functions.text.tokenize(normalize_text(...)), spelled in DuckDB.
SQL_TOKS = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({expr}) AS {alias}"


# The grading order is derived from committed JSON only: the driver's
# per-round records (CORRECTNESS_r<N>.json at the repo root) and the
# fingerprint manifest, whose entries `python -m tools.fingerprint --write`
# stamps with the newest round on record when it re-verifies a query.
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
FINGERPRINTS = os.path.join(_ROOT, "tools", "fingerprints.json")
_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _read_json_object(path: str) -> dict:
    try:
        with open(path) as fh:
            obj = json.load(fh)
    except (OSError, ValueError) as e:
        raise ValueError(f"{path}: unreadable grading input ({e})") from e
    if not isinstance(obj, dict):
        raise ValueError(f"{path}: grading input is not a JSON object")
    return obj


def _last_graded_rounds() -> dict[str, int]:
    """name -> newest round whose driver record grades it. A record that
    cannot be read raises, naming the file: these records are the only
    source of the grading order."""
    out: dict[str, int] = {}
    for fname in sorted(os.listdir(_ROOT)):
        m = _RECORD.fullmatch(fname)
        if m:
            for name in _read_json_object(os.path.join(_ROOT, fname)):
                out[name] = max(out.get(name, 0), int(m.group(1)))
    return out


def _graded_last(d: dict) -> dict:
    """Grading-priority order. A query leads iff its manifest entry was
    re-verified at or after its last driver verdict (never-graded queries
    included); every other query follows, least-recently graded first.
    Ties keep registration order."""
    last = _last_graded_rounds()
    stamp = {n: e.get("round", 0) for n, e in _read_json_object(FINGERPRINTS).items()}

    def prio(name: str) -> tuple[int, int]:
        graded = last.get(name, 0)
        return (0, 0) if graded <= stamp.get(name, 0) else (1, graded)

    return {n: d[n] for n in sorted(d, key=prio)}


def all_query_callables() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from . import _load_all  # noqa: PLC0415  (cycle-free lazy import)

    _load_all()
    return _graded_last(QUERIES)


def all_oracles() -> dict[str, str]:
    from . import _load_all  # noqa: PLC0415

    _load_all()
    return _graded_last(ORACLES)
