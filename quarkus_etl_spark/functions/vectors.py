"""Vector math over `array<float|double>` columns, as pure Catalyst
expressions (SURVEY.md Tier C q_sim_*).

One fold: every dot product, norm, cosine and quantized distance is the
parsed-SQL `aggregate(zip_with(a, b, (x, y) -> TERM), ZERO, (s, t) -> s + t)`
that `sql_fold` writes, and every cosine closes through the one guarded
`CASE` that `sql_cosine` writes (NULL leg, zero-norm -> 0.0, clamp to
[-1, 1]). Operators splice this SQL text into larger parsed expressions
(LSH buckets, IVF cells), or take it as thin `F.expr` wrappers
(`l2_norm`, `cosine_similarity`, `cosine_to_const`,
`kmeans.quantized_sq_dist`). A parsed expression builds in a fixed few
py4j round trips whatever the vector width, where a Python-lambda Column
fold costs one or more per expression node.

The fold runs as JVM higher-order functions — no Python in the hot
path, no UDF serialization. It is sequential left-to-right, which makes
the result bit-identical to DuckDB's `list_cosine_similarity` (verified
empirically: dot/(sqrt(na)*sqrt(nb)) with separately-rooted norms);
`duck_cosine` writes the oracles' mirror of the guard.

At 100TB scale this matters: brute-force cosine over a 64-dim embedding
column runs at memory bandwidth in the JVM; shipping rows to Python would be
10-100x slower.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_has_nonfinite(c: str) -> str:
    """TRUE if any component of column `c` is NaN or ±Inf; else NULL if
    any component is NULL; else FALSE (NULL for a NULL vector): the
    three-valued `exists(c, x -> isnan(x) OR abs(x) = inf)`, as three
    `array_contains` probes in one parsed expression. A Python-lambda
    `F.exists` cost ~100 py4j round trips every time the guard was built,
    and a higher-order function evaluates interpreted where array_contains
    is codegen'd. array_contains matches NaN to NaN, and is NULL when the
    value is absent and the array holds a NULL. The probes are FLOAT so an
    array<float> column is compared in place (a DOUBLE probe would widen
    the whole array per row); an array<double> widens the probe instead."""
    q = sql_ident(c)
    probes = ("NaN", "Infinity", "-Infinity")
    return "(" + " OR ".join(
        f"array_contains({q}, CAST('{x}' AS FLOAT))" for x in probes
    ) + ")"


def vec_contract_to_null(c: str, dim: int) -> Column:
    """The full embedding-column contract guard (r11 fuzz phases 7+8).

    Non-finite leg: a vector containing any NaN/±Inf component carries no
    usable geometry — and letting one reach the cosine path is actively
    dangerous: NaN/NaN = NaN, and the [-1,1] clamp's null-skipping
    `least(greatest(NaN, -1), 1)` silently rewrites it to 1.0 in Spark
    (self-similar to everything), while DuckDB orders the raw NaN
    greatest — a cross-engine divergence AND a wrong answer. Mapping such
    vectors to NULL at load lets the missing-embedding conventions
    (structural filters, NULL cosine, survivors-not-losers) cover them
    with no further per-query logic. NULL stays NULL; -0.0 and subnormal
    components are legitimate geometry and pass through.

    Dimension leg: a vector whose length differs from the column's
    declared dimension (encoder version drift, truncated writes, empty
    lists) is equally unusable geometry and maps to NULL/missing. The dimension leg is not optional hygiene: Spark's
    zip_with silently NULL-pads the shorter side (a ragged dot product
    quietly becomes NULL), while DuckDB's list_cosine_similarity raises
    on mismatched lengths and an EMPTY list trips an INTERNAL error that
    fatally invalidates the whole database — one ragged row would kill
    the oracle side and silently skew the Spark side. One parsed
    expression, so building it costs a fixed few py4j round trips."""
    # size(NULL) is NULL under default sizeOfNull semantics, so a NULL
    # vector falls through both branches to NULL
    q = sql_ident(c)
    return F.expr(
        f"CASE WHEN size({q}) = {int(dim)} AND NOT {_sql_has_nonfinite(c)}"
        f" THEN {q} END"
    )


def sql_ident(name: str) -> str:
    """A column name quoted for a parsed SQL expression (F.expr)."""
    return "`" + name.replace("`", "``") + "`"


# DuckDB mirror of vec_contract_to_null for the differential oracles:
# TRUE only for a present, contract-dimension, all-finite embedding
# (isfinite() is FALSE for both NaN and ±Inf; len() = dim rejects ragged
# AND empty lists BEFORE any list_* kernel can see them — DuckDB's
# list_cosine_similarity raises on ragged input and fatally invalidates
# the database on an empty list). Interpolate into an oracle's structural
# vector filter so both engines admit exactly the same rows. The fixture
# embeddings table declares dim=64 (FIXTURES.md).
SQL_EMB_FINITE = (
    "(embedding IS NOT NULL AND len(embedding) = 64"
    " AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0)"
)


def duck_cosine(a: str, b: str) -> str:
    """DuckDB mirror of `sql_cosine` for the differential oracles, over
    DuckDB list expressions `a` and `b`: NULL when either is NULL, 0.0
    when either norm is 0 (list_cosine_similarity's own zero-vector
    answer — NaN clamped to -1.0 — is neither portable nor meaningful),
    else the raw list_cosine_similarity, which DuckDB already clamps."""
    return (
        f"CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN NULL"
        f" WHEN list_dot_product({a}, {a}) = 0 OR list_dot_product({b}, {b}) = 0 THEN 0.0"
        f" ELSE list_cosine_similarity({a}, {b}) END"
    )


def to_double_array(c: Column | str) -> Column:
    """Fixtures store `array<float>`; widen once so all arithmetic is f64."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def sql_fold(a: str, b: str, term: str = "{x} * {y}", zero: str = "0D") -> str:
    """The one vector fold, as parsed SQL: `term` over each component pair
    of `zip_with(a, b)` ({x} and {y} name the pair), summed left to right
    from `zero`. The default is the dot product. `a` and `b` are SQL array
    operands: a column name (`sql_ident`), a constant (`sql_array`) or any
    expression over them. The lambda variables carry a `__vf_` prefix:
    inside a lambda they would shadow a column of the same name."""
    t = term.format(x="__vf_x", y="__vf_y")
    return (
        f"aggregate(zip_with({a}, {b}, (__vf_x, __vf_y) -> {t}),"
        f" {zero}, (__vf_s, __vf_t) -> __vf_s + __vf_t)"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt({sql_fold(a, a)})"


def _sql_vec(c: str) -> str:
    """Column `c` widened to array<double> (a no-op cast on double arrays,
    which the optimizer drops), so all arithmetic is f64."""
    return f"CAST({sql_ident(c)} AS ARRAY<DOUBLE>)"


def sql_cosine(a: str, b: str, na: str, nb: str) -> str:
    """The one guarded cosine, as parsed SQL: dot(a, b) / (na * nb) over
    SQL array operands `a`, `b` and their SQL norms `na`, `nb` (a
    precomputed norm column, a driver-side `sql_double`, or the fold).

    0.0 when the norm product is 0 (zero vectors — failed-encoder rows
    every real embedding table has; under ANSI the bare division would
    abort the whole job), NULL when an input vector is NULL (MISSING !=
    EMPTY: a missing embedding has no similarity, where a zero vector has
    a defined degenerate one — the round-4 NULL convention), else the raw
    ratio clamped to [-1, 1]. CaseWhen short-circuits per row, so the
    division never evaluates on the zero-denominator rows and the nonzero
    path stays bit-identical to the unguarded fold. The clamp sits INSIDE
    the non-NULL branch because Spark's least/greatest SKIP nulls
    (greatest(NULL, -1.0) = -1.0 would resurrect a missing score); a NULL
    norm product (NULL vector) matches neither leg and yields NULL, and
    the `IS NOT NULL` conjunct covers a NULL dot with a non-NULL norm
    product. Two details make the nonzero path bit-identical to DuckDB's
    `list_cosine_similarity`: the norm product is two sqrts multiplied
    (NOT sqrt-of-product), and the clamp — float rounding can push
    self-similarity to 1.0000000000000002, which DuckDB clips."""
    dot = sql_fold(a, b)
    denom = f"({na} * {nb})"
    return (
        f"CASE WHEN {dot} IS NOT NULL AND {denom} != 0D"
        f" THEN least(greatest({dot} / {denom}, -1D), 1D)"
        f" WHEN {denom} = 0D THEN 0D END"
    )


def l2_norm(c: str) -> Column:
    """||c|| of array column `c`: the sqrt of its dot fold with itself."""
    return F.expr(_sql_norm(_sql_vec(c)))


def cosine_similarity(a: str, b: str) -> Column:
    """The guarded cosine (`sql_cosine`) of array columns `a` and `b`."""
    qa, qb = _sql_vec(a), _sql_vec(b)
    return F.expr(sql_cosine(qa, qb, _sql_norm(qa), _sql_norm(qb)))


def sql_array(vec: list[float]) -> str:
    """`vec` as a parsed-SQL array<double> constant, whatever its length
    one piece of expression text (an `F.lit(list)` costs one py4j round
    trip per component).

    Each component is `<repr>D`: Python's `repr` is the shortest string
    that round-trips the double and Spark parses it with a correctly
    rounded `Double.parseDouble`, so every component (±0.0 and subnormals
    too) is bit-identical, and the analyzed plan is the same `array(...)`
    node the `F.lit` form gives. ConstantFolding collapses it to one
    Literal in the optimized plan. Non-finite components have no literal
    form and are no valid geometry: they raise."""
    return "array(" + ", ".join(sql_double(x) for x in vec) + ")"


def sql_double(x: float) -> str:
    """`x` as a bit-exact parsed-SQL double literal (see sql_array)."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"constant vector component is not finite: {x!r}")
    return f"{x!r}D"


def py_l2_norm(vec: list[float]) -> float:
    """Driver-side ||v||, bit-identical to `l2_norm` on the same values:
    Python `sum` and the Catalyst fold both accumulate left-to-right over
    IEEE doubles, and both sqrts are correctly rounded."""
    return math.sqrt(sum(float(x) * float(x) for x in vec))


def cosine_to_const(a: str, vec: list[float]) -> Column:
    """The guarded cosine of array column `a` against a constant vector,
    with the constant's norm folded at plan-build time (per-row work
    halves: one dot fold + the row norm instead of three folds)."""
    q = _sql_vec(a)
    return F.expr(sql_cosine(q, sql_array(vec), _sql_norm(q), sql_double(py_l2_norm(vec))))
