"""Z-order (Morton) sort keys for multi-dimensional data-skipping layouts.

A 1-dim sort narrows parquet min/max statistics for ONE column; queries
filtering the other dimensions still touch every file. Interleaving the
bits of several quantized dimensions into one sort key gives every file a
narrow range in EVERY participating dimension, so predicate pushdown can
row-group-skip on any of them — the lakehouse table-layout technique
(Delta/Iceberg `OPTIMIZE ZORDER BY`) expressed as plain Spark: a pure
Column sort key for a writer's `repartitionByRange` + `sortWithinPartitions`.

Everything here is integer/bit column algebra — portable, deterministic,
and codegen-friendly; no UDFs, no driver-side work beyond an optional
1-row bounds aggregate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) by linear scaling over
    [lo, hi]; hi itself lands on the top cell (least-clamp). Constant or
    column-valued bounds both work (column-valued = the fit/transform
    broadcast pattern)."""
    cells = (1 << bits) - 1
    lo_d, hi_d = lo.cast("double"), hi.cast("double")
    # Degenerate span (constant column) maps everything to cell 0 — and
    # must not divide by zero, which ANSI mode raises even for doubles.
    span = F.when(hi_d > lo_d, hi_d - lo_d).otherwise(F.lit(1.0))
    scaled = (col.cast("double") - lo_d) / span
    q = F.floor(scaled * F.lit(float(cells + 1))).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(q, F.lit(cells).cast("long")))


def interleave_bits(quantized: list[Column], bits: int) -> Column:
    """Morton-interleave: bit b of input i lands at position b*n + i.
    ncols * bits must fit a signed long (<= 62)."""
    n = len(quantized)
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed long")
    parts = [
        F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i)
        for i, q in enumerate(quantized)
        for b in range(bits)
    ]
    return reduce(lambda a, c: a + c, parts)


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> Column:
    """The Z-order sort key for `cols`. With `bounds` given, the key is a
    pure per-row expression (map-only); without, call `column_bounds`
    first and broadcast-join the 1-row result (same shape as q_feat_scale's
    fit+transform)."""
    if bounds is None:
        raise ValueError("pass explicit bounds (or join column_bounds first)")
    qs = [
        quantize(F.col(c), F.lit(float(bounds[c][0])), F.lit(float(bounds[c][1])), bits)
        for c in cols
    ]
    return interleave_bits(qs, bits)


def column_bounds(df: DataFrame, cols: list[str]) -> dict[str, tuple[float, float]]:
    """One tiny min/max aggregate for the quantization bounds (a 1-row
    driver collect — the same acceptable seed cost as IVF's centroids)."""
    row = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    return {c: (float(row[f"mn_{c}"]), float(row[f"mx_{c}"])) for c in cols}
