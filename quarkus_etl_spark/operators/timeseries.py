"""Time-series operators: sessionization, time bucketing, gap-fill, and
bucketed interval (range) joins.

The reference engine's query surface is plain SQL over an RDBMS (reference
EtlMain.kt:103-108), so these go beyond it — they are the time-series
operators a training-data / event-analytics pipeline needs, expressed
Spark-first:

- `sessionize`: ONE hash shuffle by the session keys; the gap detector
  (lag) and the session counter (running sum) share a single window
  partitioning + sort, so Catalyst plans one Exchange + one Sort total.
- `time_bucket`: pure column algebra (integer div on epoch micros) —
  bucket assignment never shuffles and survives whole-stage codegen.
- `gapfill`: the dense calendar is generated from a 1-row bounds
  aggregate (`sequence` + `explode`), then joined to the *aggregated*
  buckets — row-proportional data is touched exactly once, upstream.
- `interval_join`: the scale-safe range join. A naive theta join
  (`r.ts BETWEEN l.ts - W AND l.ts`) degenerates to a per-key cross
  product; bucketing time into width-W cells and replicating the RIGHT
  side into (cell, cell+1) turns it into an equi-join on (key, cell) with
  a cheap range refine — work is bounded by events-per-window, not
  events-per-key², and AQE can split skewed cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

US = 1_000_000  # microseconds per second


def _epoch_us_sql(ts_col: str) -> str:
    """Epoch-microseconds SQL for a timestamp column that may be NTZ (the
    catalog stores event time as TIMESTAMP_NTZ to mirror portable/oracle
    semantics). `unix_micros` needs an instant; the session runs UTC, so
    the NTZ->TIMESTAMP cast is value-preserving."""
    return f"unix_micros(cast({ts_col} as timestamp))"


def _epoch_us(c) -> "Column":
    return F.unix_micros((F.col(c) if isinstance(c, str) else c).cast("timestamp"))


def time_bucket(ts_col: str, width_s: int) -> Column:
    """Floor a timestamp column to a width_s-second grid (epoch-aligned).

    Integer `div` on epoch microseconds — exact for any width, unlike a
    double division; stays inside whole-stage codegen."""
    w = width_s * US
    return F.expr(
        f"cast(timestamp_micros(({_epoch_us_sql(ts_col)} div {w}) * {w}) as timestamp_ntz)"
    )


def sessionize(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    gap_s: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Assign an ordinal `session_id` per key: a new session starts when the
    gap to the previous event exceeds gap_s seconds.

    Both window passes (lag for the gap, running sum for the counter) use
    the same partitioning and sort, so the whole operator costs one
    shuffle + one sort regardless of data size. Ordering carries a caller
    tiebreak so equal timestamps are deterministic."""
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    gap_us = _epoch_us(ts_col) - _epoch_us(F.lag(ts_col).over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > gap_s * US), F.lit(1)).otherwise(F.lit(0))
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", F.sum(is_new).over(running))


_INTERVAL_UNIT_US = {
    "SECOND": US, "SECONDS": US,
    "MINUTE": 60 * US, "MINUTES": 60 * US,
    "HOUR": 3600 * US, "HOURS": 3600 * US,
    "DAY": 86400 * US, "DAYS": 86400 * US,
}

# One chunk's sequence() array stays ~100k elements: sequence materializes
# the WHOLE array on one row before explode, so an unchunked grid puts the
# entire span in a single task's memory (a 300-year span at 15 min is a
# 10M-element timestamp array — one straggler task, or OOM).
GAPFILL_CHUNK_CELLS = 100_000

# Fail-fast budget: one clock-skewed row (an unset 1970 clock, a far-future
# ms-vs-s unit bug) stretches min..max so the dense grid dwarfs the data.
# Densifying 100M+ cells is never what the caller meant — raise with the
# bounds so the caller clamps/filters instead of the job hanging.
GAPFILL_MAX_CELLS = 20_000_000


def _step_us(step: str) -> int:
    """Microseconds for a fixed-width interval body like '15 MINUTES'.
    Calendar units (MONTH/YEAR) are not fixed-width and are rejected."""
    parts = step.strip().split()
    if len(parts) != 2 or not parts[0].lstrip("-").isdigit():
        raise ValueError(f"gapfill step must be '<n> <unit>', got {step!r}")
    unit = parts[1].upper()
    if unit not in _INTERVAL_UNIT_US:
        raise ValueError(
            f"gapfill step unit must be fixed-width (SECOND..DAY), got {step!r}"
        )
    n = int(parts[0])
    if n <= 0:
        raise ValueError(f"gapfill step must be positive, got {step!r}")
    return n * _INTERVAL_UNIT_US[unit]


def gapfill(
    agg: DataFrame,
    bucket_col: str,
    step: str,
    dims: list[str],
    fills: dict[str, Column],
) -> DataFrame:
    """Densify a bucketed aggregate: emit one row per (grid bucket × dim
    combination), filling absent cells from `fills` (col -> default).

    `step` is a fixed-width Spark interval body, e.g. "15 MINUTES". The
    grid bounds come from a single-row min/max aggregate (one tiny
    driver-side fetch, same k-bounded pattern as the k-means centroids);
    generation is CHUNKED — explode ~100k-cell spans across partitions,
    then sequence within each — so no single task ever materializes the
    whole calendar, and the `GAPFILL_MAX_CELLS` budget fails fast with the bounds
    when a clock-skewed outlier row would otherwise explode the grid
    (one 2200-dated event in 100 TB must be a clear error, not a hang).
    The join still runs against data that aggregation already shrank."""
    step_us = _step_us(step)
    bucket_dt = dict(agg.dtypes)[bucket_col]
    if bucket_dt not in ("timestamp", "timestamp_ntz"):
        # DATE would need day-grid semantics and tz-naive int columns would
        # need a unit declaration; both silently mis-grid if coerced here.
        raise TypeError(
            f"gapfill bucket column {bucket_col!r} must be timestamp or "
            f"timestamp_ntz, got {bucket_dt!r}; cast/bucket upstream"
        )
    # Grid bounds as epoch-µs computed ENGINE-side (unix_micros), so no
    # driver-side datetime interpretation exists to disagree with the
    # cast-back path: for NTZ the session runs UTC (catalog contract) and
    # the cast is value-preserving; for tz-aware timestamps unix_micros is
    # the instant regardless of driver OS timezone. The raw min/max ride
    # along only for the human-readable budget error.
    row = agg.agg(
        F.min(F.unix_micros(F.col(bucket_col).cast("timestamp"))).alias("__lo_us"),
        F.max(F.unix_micros(F.col(bucket_col).cast("timestamp"))).alias("__hi_us"),
        F.min(bucket_col).alias("__lo"),
        F.max(bucket_col).alias("__hi"),
    ).first()
    lo_us, hi_us = row["__lo_us"], row["__hi_us"]
    if lo_us is None:  # empty input: dense output is empty too
        empty_cols = [bucket_col, *dims, *fills]
        return agg.select(*empty_cols).limit(0)
    n_cells = (hi_us - lo_us) // step_us + 1
    if n_cells > GAPFILL_MAX_CELLS:
        raise ValueError(
            f"gapfill grid would have {n_cells} cells ({row['__lo']} .. "
            f"{row['__hi']} at {step}) > GAPFILL_MAX_CELLS={GAPFILL_MAX_CELLS}; "
            f"clamp outlier timestamps"
        )
    chunk_us = GAPFILL_CHUNK_CELLS * step_us
    spark = agg.sparkSession
    n_chunks = (n_cells + GAPFILL_CHUNK_CELLS - 1) // GAPFILL_CHUNK_CELLS
    grid = (
        spark.range(n_chunks)
        .select(
            (F.lit(lo_us) + F.col("id") * F.lit(chunk_us)).alias("__c_lo"),
            F.least(
                F.lit(lo_us) + (F.col("id") + 1) * F.lit(chunk_us) - F.lit(step_us),
                F.lit(hi_us),
            ).alias("__c_hi"),
        )
        .select(
            F.explode(
                F.sequence("__c_lo", "__c_hi", F.lit(step_us))
            ).alias("__b_us")
        )
        .select(
            F.expr(f"cast(timestamp_micros(__b_us) as {bucket_dt})").alias(bucket_col)
        )
    )
    dense = grid.crossJoin(agg.select(*dims).distinct()) if dims else grid
    out = dense.join(agg, [bucket_col, *dims], "left")
    keep = [bucket_col, *dims]
    filled = [F.coalesce(F.col(c), d).alias(c) for c, d in fills.items()]
    return out.select(*keep, *filled)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    window_s: int,
    how: str = "inner",
) -> DataFrame:
    """Join right rows whose timestamp falls in [left_ts - window_s,
    left_ts) for the same key — the attribution/feature-window join.

    Plan shape: bucket both sides into width-window_s cells; a right row
    in cell b can only match left rows in cells {b, b+1}, so the right
    side is replicated exactly 2x into those cells and the join becomes an
    EQUI-join on (keys…, cell) with the range predicate as a refine. The
    shuffle moves 2|R| + |L| rows partitioned by (key, cell) — bounded and
    skew-splittable — where the theta form would nested-loop per key.
    Right columns must not collide with left's (pre-alias them)."""
    w_us = window_s * US
    lb = F.expr(f"{_epoch_us_sql(left_ts)} div {w_us}")
    rb = F.expr(f"{_epoch_us_sql(right_ts)} div {w_us}")
    lhs = left.withColumn("__cell", lb)
    rhs = right.withColumn("__cell", F.explode(F.array(rb, rb + F.lit(1))))
    refine = (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {window_s} SECONDS")) & (
        F.col(right_ts) < F.col(left_ts)
    )
    cond = [lhs[k] == rhs[k] for k in keys] + [lhs["__cell"] == rhs["__cell"], refine]
    joined = lhs.join(rhs, cond, how)
    return joined.drop(rhs.__cell).drop("__cell").drop(*[rhs[k] for k in keys])
