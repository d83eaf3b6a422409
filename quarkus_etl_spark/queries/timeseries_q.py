"""Time-series / event-analytics queries (beyond the reference's SQL
surface; operators in operators/timeseries.py): sessionization, hierarchical
time-bucket rollup, gap-fill, interval (attribution) join, range-frame
moving aggregates, and portable hash sampling.

Cross-engine determinism notes:
- Gap arithmetic runs on epoch MICROSECONDS (`unix_micros` / `epoch_us`) —
  the fixtures carry sub-second timestamps, so second-resolution casts
  would merge distinct instants.
- Money sums ride DECIMAL(18,2) and cast back to double (base.dsum), so
  partial-aggregation order never shows in the hash.
- DuckDB `sum(BIGINT/INTEGER)` returns HUGEINT; every oracle casts those
  back to BIGINT to match Spark's long.
- DuckDB `date_trunc('day', ts)` returns DATE (Spark: TIMESTAMP) — oracles
  cast back to TIMESTAMP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .base import dec2, dsum, register, t


@register(
    "q_sessionize",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts, event_id, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM seq
    )
    SELECT user_id, session_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-min inactivity gap splits a user's events
    into sessions; one summary row per session. The operator costs exactly
    one shuffle (hash by user) + one sort — the lag gap-detector and the
    running session counter share a single window spec — and the session
    summary groupBy reuses that clustering. Tiebreak on event_id makes
    equal-timestamp ordering deterministic."""
    from ..operators.timeseries import sessionize

    ev = t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", gap_s=1800, tiebreak=["event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )


@register(
    "q_time_rollup",
    oracle="""
    WITH hourly AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
               count(*) AS n_events,
               sum(CAST(value AS DECIMAL(18,2))) AS total_dec
        FROM events GROUP BY 1, 2
    ), daily AS (
        SELECT CAST(date_trunc('day', bucket) AS TIMESTAMP) AS bucket, event_type,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               sum(total_dec) AS total_dec
        FROM hourly GROUP BY 1, 2
    )
    SELECT 'hour' AS level, bucket, event_type, n_events,
           CAST(total_dec AS DOUBLE) AS total_value FROM hourly
    UNION ALL
    SELECT 'day' AS level, bucket, event_type, n_events,
           CAST(total_dec AS DOUBLE) AS total_value FROM daily
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: hourly aggregates, then DAILY
    REAGGREGATED FROM THE HOURLY (the continuous-aggregate pattern — the
    raw table is touched once; each coarser resolution reduces the finer
    one, which is how a 100 TB hypertable maintains month/year rollups
    without rescanning events). Decimal partials keep the reaggregation
    exact, so daily == direct-from-raw bit-for-bit."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec2("value")).alias("total_dec"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("bucket")).alias("bucket"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_dec").alias("total_dec"),
    )
    out_cols = [
        "level",
        "bucket",
        "event_type",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
    ]
    return (
        hourly.withColumn("level", F.lit("hour")).select(*out_cols)
        .unionAll(daily.withColumn("level", F.lit("day")).select(*out_cols))
    )


@register(
    "q_time_gapfill",
    oracle="""
    WITH c AS (
        SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS bucket,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        WHERE ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'
        GROUP BY 1, 2
    ), grid AS (
        SELECT unnest(generate_series((SELECT min(bucket) FROM c),
                                      (SELECT max(bucket) FROM c),
                                      INTERVAL 15 MINUTE)) AS bucket
    ), types AS (SELECT DISTINCT event_type FROM c)
    SELECT g.bucket, ty.event_type,
           COALESCE(c.n_events, 0) AS n_events,
           COALESCE(c.total_value, 0.0) AS total_value
    FROM grid g
    CROSS JOIN types ty
    LEFT JOIN c ON c.bucket = g.bucket AND c.event_type = ty.event_type
    """,
)
def q_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 15-minute series per event type: every (grid bucket x
    type) cell appears, absent cells zero-filled — what a dashboard or a
    downstream ML feature join needs from a sparse event stream. The dense
    calendar derives from a 1-row bounds aggregate; all joins run on
    already-aggregated data (see operators/timeseries.py::gapfill).

    Epoch-domain guard (both engines, identically): events outside
    [1970, 2100) are dropped BEFORE the bounds aggregate, so one
    clock-skewed row (unset 1970 clock upstream would pass, but a
    far-future ms-vs-s unit bug would not) degrades to a bounded grid —
    130 years at 15 min is 4.6M cells, inside gapfill's 20M budget — in
    BOTH engines instead of an operator error here and a 100M-row
    densify in the oracle."""
    from ..operators.timeseries import gapfill, time_bucket

    ev = t(spark, sf_dir, "events").where(
        "ts >= TIMESTAMP_NTZ '1970-01-01' AND ts < TIMESTAMP_NTZ '2100-01-01'"
    )
    counts = ev.groupBy(
        time_bucket("ts", 900).alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "total_value"),
    )
    return gapfill(
        counts,
        "bucket",
        "15 MINUTES",
        dims=["event_type"],
        fills={"n_events": F.lit(0), "total_value": F.lit(0.0)},
    )


@register(
    "q_join_interval",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts, value FROM events WHERE event_type IN ('view', 'click'))
    SELECT p.event_id, p.user_id, p.ts,
           count(v.ts) AS n_touches,
           CAST(COALESCE(sum(CAST(v.value AS DECIMAL(18,2))), 0.00) AS DOUBLE)
               AS touch_value
    FROM p LEFT JOIN v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts < p.ts
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution interval join: for each purchase, the view/click touches
    by the same user in the preceding hour. The SQL form is a theta join
    (per-key cross product); the operator runs it as a bucketed EQUI-join
    on (user, time-cell) with 2x replication of the touch side — shuffle
    volume 2|R|+|L|, skew-splittable by AQE
    (operators/timeseries.py::interval_join)."""
    from ..operators.timeseries import interval_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("value").alias("t_value"),
    )
    joined = interval_join(
        purchases.withColumnRenamed("user_id", "p_user"),
        touches.withColumnRenamed("t_user", "p_user"),
        keys=["p_user"],
        left_ts="ts",
        right_ts="t_ts",
        window_s=3600,
        how="left",
    )
    return joined.groupBy("event_id", F.col("p_user").alias("user_id"), "ts").agg(
        F.count("t_ts").alias("n_touches"),
        F.coalesce(F.sum(dec2("t_value")), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("touch_value"),
    )


@register(
    "q_win_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_7d,
           count(*) OVER w AS n_7d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per customer: a RANGE frame over the order
    DATE (value-based, so same-day orders are peers and the result is
    order-independent — a ROWS frame would be nondeterministic under ties).
    One shuffle by customer; the frame scan is linear per partition."""
    o = t(spark, sf_dir, "orders")
    # o_orderdate is a midnight-pure TIMESTAMP_NTZ; day-number ordering
    # gives the same frame membership as the oracle's interval RANGE.
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.col("o_orderdate").cast("date")))
        .rangeBetween(-6, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec2("o_totalprice")).over(w).cast("double").alias("rev_7d"),
        F.count(F.lit(1)).over(w).alias("n_7d"),
    )


@register(
    "q_sample_hash",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)),
                 1, 2) < '1a'
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE deterministic sampling: keep a row iff the md5 of its
    primary key starts below 0x1a (~10.2%). Unlike q_sample (engine PRNG,
    rows-only check), the md5-of-key predicate computes identically in any
    engine — the pattern to use when a sample must be reproducible across
    systems (e.g. carving a held-out eval split from a 100 TB corpus and
    re-deriving it in another stack). Embarrassingly parallel: no shuffle,
    filter runs at scan.

    NULL-propagating concat, NOT concat_ws (the round-4 MISSING!=EMPTY
    class, re-caught here by the r8 NULL-FK fuzz): concat_ws SKIPS null
    parts, so a NULL-orderkey row was hashed under the key "5" (just the
    linenumber) and sampled, while the oracle's || propagates NULL and
    drops it. A row without its primary key has no defined sample
    predicate — both engines now drop it (the not-null DQ rule is where
    such rows get surfaced, not a sample carve)."""
    li = t(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    return li.where(
        F.substring(F.md5(F.encode(key, "UTF-8")), 1, 2) < "1a"
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "q_win_session_native",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM seq
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_win_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation (the engine primitive the
    hand-rolled q_sessionize window recipe reduces to): one groupBy over
    session_window(ts, gap) merges each user's events into dynamic
    sessions executor-side — no window-function pass, and the same
    primitive runs unchanged under Structured Streaming with state-store
    session merging (q_stream_live_session).

    Semantics pinned by the oracle: Spark merges an event into the open
    session iff it starts strictly before last_ts + gap, so an event at
    exactly +30min opens a NEW session (the oracle's is_new uses
    `diff >= gap`), and session_end is last_ts + gap (not last_ts) —
    both easy to get wrong when porting between the two recipes."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(
            "user_id",
            "session_start",
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "q_time_interp",
    oracle="""
    WITH c AS (
        SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS bucket,
               event_type,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS v
        FROM events
        WHERE ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'
        GROUP BY 1, 2
    ), grid AS (
        SELECT unnest(generate_series((SELECT min(bucket) FROM c),
                                      (SELECT max(bucket) FROM c),
                                      INTERVAL 15 MINUTE)) AS bucket
    ), dense AS (
        SELECT g.bucket, ty.event_type, c.v
        FROM grid g
        CROSS JOIN (SELECT DISTINCT event_type FROM c) ty
        LEFT JOIN c ON c.bucket = g.bucket AND c.event_type = ty.event_type
    ), w AS (
        SELECT bucket, event_type, v,
               epoch_us(bucket) AS us,
               last_value(v IGNORE NULLS) OVER wb AS prev_v,
               last_value(CASE WHEN v IS NOT NULL THEN epoch_us(bucket) END
                          IGNORE NULLS) OVER wb AS prev_t,
               first_value(v IGNORE NULLS) OVER wf AS next_v,
               first_value(CASE WHEN v IS NOT NULL THEN epoch_us(bucket) END
                           IGNORE NULLS) OVER wf AS next_t
        FROM dense
        WINDOW wb AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT bucket, event_type, v IS NULL AS was_gap,
           COALESCE(v,
                    prev_v + (next_v - prev_v)
                        * (CAST(us - prev_t AS DOUBLE)
                           / CAST(next_t - prev_t AS DOUBLE)),
                    next_v, prev_v) AS v_filled
    FROM w
    """,
)
def q_time_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with LINEAR INTERPOLATION: average value per
    15-min bucket per event type, densified to the full grid, and every
    empty cell filled by interpolating between its time-nearest known
    neighbors (edges fall back to nearest-fill) — what turns a sparse
    event stream into the regular signal a forecasting model or
    dashboard consumes.

    One grouped aggregate shrinks the data, the grid comes from a 1-row
    bounds aggregate (operators/timeseries.py::gapfill), then a single
    window pass per direction finds the bracketing known points via
    last/first(ignorenulls) — no self-join, no per-gap search: linear in
    grid cells regardless of gap lengths. Interpolation weights use exact
    epoch-microsecond integers cast to double in one fixed expression, so
    both engines produce bit-identical fills.

    Epoch-domain guard [1970, 2100) applied identically in both engines
    before the bounds aggregate — see q_time_gapfill's docstring; caps the
    worst-case grid at 4.6M cells so clock-skewed rows degrade
    predictably instead of tripping gapfill's GAPFILL_MAX_CELLS budget."""
    from ..operators.timeseries import gapfill, time_bucket

    ev = t(spark, sf_dir, "events").where(
        "ts >= TIMESTAMP_NTZ '1970-01-01' AND ts < TIMESTAMP_NTZ '2100-01-01'"
    )
    counts = ev.groupBy(time_bucket("ts", 900).alias("bucket"), "event_type").agg(
        (F.sum(dec2("value")).cast("double") / F.count(F.lit(1))).alias("v")
    )
    dense = gapfill(
        counts,
        "bucket",
        "15 MINUTES",
        dims=["event_type"],
        fills={"v": F.lit(None).cast("double")},
    )
    us = F.unix_micros(F.col("bucket").cast("timestamp"))
    wb = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # The forward-looking bracket values come from a DESCENDING sort with an
    # unbounded-PRECEDING frame, not first() over (currentRow ..
    # unboundedFollowing): Spark evaluates unbounded-FOLLOWING frames by
    # re-scanning to the partition end for EVERY row — O(n²) per partition.
    # Invisible on a few-day span (~300 buckets/partition), 517 s on a
    # 1-year span (35k buckets; round-5 fuzz bench). The reversed
    # running-frame form computes the identical values incrementally.
    wf = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    known_t = F.when(F.col("v").isNotNull(), us)
    prev_v = F.last("v", ignorenulls=True).over(wb)
    prev_t = F.last(known_t, ignorenulls=True).over(wb)
    next_v = F.last("v", ignorenulls=True).over(wf)
    next_t = F.last(known_t, ignorenulls=True).over(wf)
    frac = (us - prev_t).cast("double") / (next_t - prev_t).cast("double")
    interp = prev_v + (next_v - prev_v) * frac
    return dense.select(
        "bucket",
        "event_type",
        F.col("v").isNull().alias("was_gap"),
        F.coalesce("v", interp, next_v, prev_v).alias("v_filled"),
    )


@register(
    "q_dq_anomaly",
    oracle="""
    WITH c AS (
        SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS bucket,
               event_type,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
        FROM events GROUP BY 1, 2
    ), w AS (
        SELECT bucket, event_type, CAST(v AS DOUBLE) AS v,
               CAST(count(*) OVER win AS BIGINT) AS n,
               CAST(sum(v) OVER win AS DOUBLE) AS sx,
               -- one operand widened: DuckDB multiplies DECIMAL(18)s in
               -- int64/int128 halves and overflows on ~1e14-unit cells
               -- (fuzz_diff extreme-value class); (19,2)x(18,2)->(37,4)
               -- is exact on both engines
               CAST(sum(CAST(v AS DECIMAL(19,2)) * v) OVER win AS DOUBLE) AS sxx
        FROM c
        WINDOW win AS (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)
    )
    SELECT bucket, event_type, v,
           CASE WHEN n >= 4 AND sxx - sx * sx / n > 0
                THEN abs(v - sx / n) > 3 * sqrt((sxx - sx * sx / n) / (n - 1))
                ELSE FALSE END AS anomaly
    FROM w
    """,
)
def q_dq_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style data-quality monitoring in batch: each 15-minute
    bucket's volume is compared against a rolling baseline of its own
    previous 8 buckets (mean ± 3σ, trailing frame EXCLUDES the current
    row so an anomaly can't mask itself) — the pipeline-health gate that
    pages before a bad upstream deploy poisons a day of training data.

    One aggregate + one window pass sharing the event_type partitioning.
    Bucket sums ride DECIMAL(18,2) end-to-end — the window's sum and
    sum-of-squares are EXACT decimal folds cast to double once, so the
    3σ boundary is the same double in both engines no matter how
    partial aggregation or frame evaluation orders the adds."""
    ev = t(spark, sf_dir, "events")
    from ..operators.timeseries import time_bucket

    c = ev.groupBy(time_bucket("ts", 900).alias("bucket"), "event_type").agg(
        F.sum(dec2("value")).cast("decimal(18,2)").alias("v")
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-8, -1)
    )
    w = c.select(
        "bucket",
        "event_type",
        F.col("v").cast("double").alias("v"),
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("v").over(win).cast("double").alias("sx"),
        F.sum(F.col("v") * F.col("v")).over(win).cast("double").alias("sxx"),
    )
    n, sx, sxx, v = (F.col(x) for x in ("n", "sx", "sxx", "v"))
    var_num = sxx - sx * sx / n
    anomaly = F.when(
        (n >= 4) & (var_num > 0),
        F.abs(v - sx / n) > 3 * F.sqrt(var_num / (n - 1)),
    ).otherwise(F.lit(False))
    return w.select("bucket", "event_type", "v", anomaly.alias("anomaly"))


# --------------------------------------------------------------------------
# LTTB-style downsampling (largest-triangle with bucket-average references)
# --------------------------------------------------------------------------

_LTTB_B = 20


@register(
    "q_time_lttb",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, ts, epoch_us(ts) AS e,
               CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS y
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), bounds AS (
        SELECT MIN(e) AS mn, MAX(e) AS mx FROM pts
    ), bk AS (
        SELECT event_id, ts, e, y,
               CAST(((e - mn) * {_LTTB_B}) // (mx - mn + 1) AS BIGINT) AS k
        FROM pts CROSS JOIN bounds
    ), s AS (
        SELECT k, COUNT(*) AS n,
               CAST(CAST(SUM(e) AS DECIMAL(38,0)) AS DOUBLE) / COUNT(*) AS ax,
               CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS ay
        FROM bk GROUP BY k
    ), ctx AS (
        SELECT k,
               lag(ax)  OVER (ORDER BY k) AS axp,
               lag(ay)  OVER (ORDER BY k) AS ayp,
               lead(ax) OVER (ORDER BY k) AS axn,
               lead(ay) OVER (ORDER BY k) AS ayn
        FROM s
    ), scored AS (
        SELECT bk.k, bk.event_id, bk.ts, bk.y,
               abs((axp - CAST(e AS DOUBLE)) * (ayn - y)
                   - (axn - CAST(e AS DOUBLE)) * (ayp - y)) AS area
        FROM bk JOIN ctx ON bk.k = ctx.k
    ), ranked AS (
        SELECT k, event_id, ts, y, area,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY area DESC NULLS LAST,
                                           ts ASC, event_id ASC) AS rn
        FROM scored
    )
    SELECT k, event_id, ts, y AS value, area FROM ranked WHERE rn = 1
    """,
)
def q_time_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling for dashboards: {B} visually-representative
    points from the purchase-value series, by the PARALLEL form of
    largest-triangle-three-buckets — each bucket keeps the point with the
    largest triangle area against the NEIGHBOR BUCKETS' average points
    (classic LTTB chains on the previously-selected point, which is
    inherently sequential; the fixed-reference variant is the standard
    scale-out form and differs only at pathological buckets). Edge buckets
    (no neighbor -> NULL area) keep their earliest point. All areas are
    textually-identical double expressions on exact integers (epoch
    micros, DECIMAL(38,0) sums) so ranking is cross-engine safe. Plan: one
    bucket-keyed aggregate (B rows), a B-row window for neighbors, one
    broadcast back, one bounded rank per bucket — shuffle volume is
    row-proportional once, B-bounded after."""
    ev = t(spark, sf_dir, "events")
    pts = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "event_id",
        "ts",
        # NTZ -> timestamp cast: unix_micros needs an instant; the UTC
        # session makes the cast value-preserving (NOTES gotcha).
        F.unix_micros(F.col("ts").cast("timestamp")).alias("e"),
        dec2("value").cast("double").alias("y"),
    )
    bounds = pts.agg(F.min("e").alias("mn"), F.max("e").alias("mx"))
    # Bucket index by INTEGER division (`div`), mirroring the oracle's
    # BIGINT `//`: the earlier double-division-then-cast form agrees only
    # while (e - mn) * B stays under 2^53 — a 300-year clock-skew span
    # pushed it to ~2e17 and the rounded double truncated into a
    # different bucket than the oracle's exact floor (sf0.01 phase-4
    # fuzz). Integer `div` is exact to (e - mn) * B < 2^63, i.e. the
    # whole representable timestamp domain at B = 20.
    bk = pts.crossJoin(F.broadcast(bounds)).withColumn(
        "k", F.expr(f"((e - mn) * {_LTTB_B}) div (mx - mn + 1)")
    )
    s = bk.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        # sum DECIMAL, not long: epoch-micros sums overflow BIGINT past
        # ~5k rows/bucket (hit at the 100x stress); DuckDB's hugeint sum
        # never overflows, so only the Spark side needed widening.
        (F.sum(F.col("e").cast("decimal(38,0)")).cast("double") / F.count(F.lit(1))).alias("ax"),
        (F.sum(dec2("y")).cast("double") / F.count(F.lit(1))).alias("ay"),
    )
    wk = Window.orderBy("k")
    ctx = s.select(
        "k",
        F.lag("ax").over(wk).alias("axp"),
        F.lag("ay").over(wk).alias("ayp"),
        F.lead("ax").over(wk).alias("axn"),
        F.lead("ay").over(wk).alias("ayn"),
    )
    xd = F.col("e").cast("double")
    area = F.abs(
        (F.col("axp") - xd) * (F.col("ayn") - F.col("y"))
        - (F.col("axn") - xd) * (F.col("ayp") - F.col("y"))
    )
    scored = bk.join(F.broadcast(ctx), "k").select(
        "k", "event_id", "ts", "y", area.alias("area")
    )
    wr = Window.partitionBy("k").orderBy(
        F.desc_nulls_last("area"), F.asc("ts"), F.asc("event_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("k", "event_id", "ts", F.col("y").alias("value"), "area")
    )


@register(
    "q_time_seasonal",
    oracle="""
    WITH keyed AS (
        SELECT event_type, CAST(hour(ts) AS INT) AS hod, value FROM events
    ), base AS (
        SELECT event_type, hod,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   AS baseline
        FROM keyed GROUP BY event_type, hod
    )
    SELECT k.event_type, k.hod, MIN(b.n_events) AS n_events,
           MIN(b.baseline) AS baseline,
           MAX(k.value - b.baseline) AS max_resid,
           MIN(k.value - b.baseline) AS min_resid
    FROM keyed k JOIN base b ON k.event_type = b.event_type AND k.hod = b.hod
    GROUP BY k.event_type, k.hod
    """,
)
def q_time_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline decomposition: per (event_type, hour-of-day) the
    exact-mean baseline, then each event's residual against its
    seasonal slot — the classic seasonal-naive anomaly/forecast
    decomposition for telemetry. The baseline table is bounded by the
    attribute domain (|event_types| x 24 rows, broadcast back onto the
    scan regardless of corpus size), so the plan is two hash
    aggregations and zero data-sized joins. Baselines are exact decimal
    means (bit-identical cross-engine), so residual extrema — IEEE
    subtractions of identical doubles — hash-match too."""
    ev = t(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type", F.hour("ts").cast("int").alias("hod"), "value"
    )
    base = keyed.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(dec2("value")).cast("double") / F.count(F.lit(1))).alias("baseline"),
    )
    resid = F.col("value") - F.col("baseline")
    return (
        keyed.join(F.broadcast(base), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(
            F.min("n_events").alias("n_events"),
            F.min("baseline").alias("baseline"),
            F.max(resid).alias("max_resid"),
            F.min(resid).alias("min_resid"),
        )
    )


@register(
    "q_time_changepoint",
    oracle="""
    WITH stats AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   AS mean
        FROM events GROUP BY event_type
    ), cum AS (
        SELECT e.event_type, e.ts, e.event_id, s.n, s.mean,
               row_number() OVER w AS rn,
               CAST(SUM(CAST(e.value AS DECIMAL(18,2))) OVER
                    (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   - row_number() OVER w * s.mean AS cusum
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WINDOW w AS (PARTITION BY e.event_type ORDER BY e.ts, e.event_id)
    )
    SELECT event_type, ts AS cp_ts, CAST(rn AS BIGINT) AS cp_index,
           CAST(n AS BIGINT) AS n_events, cusum
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY abs(cusum) DESC, ts ASC,
                                              event_id ASC) AS pick
        FROM cum
    ) WHERE pick = 1
    """,
)
def q_time_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint detection per event_type: the k with
    the largest |S_k - k*mean| over the time-ordered series. The running
    sum rides DECIMAL (exact, order-free) and the mean is the exact-sum
    double, so cusum = S_k::double - k*mean is two IEEE ops on
    bit-identical inputs — the argmax (full-key tiebreak) matches the
    oracle exactly. One window pass per series + a broadcast stats dim;
    at 100 TB, series longer than a partition take the two-level
    prefix-sum route (operators/percentile.py's strategy) — the per-key
    state here is O(1)."""
    ev = t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(dec2("value")).cast("double") / F.count(F.lit(1))).alias("mean"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cum = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cusum",
            F.sum(dec2("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
            - F.col("rn") * F.col("mean"),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), F.asc("ts"), F.asc("event_id")
    )
    return (
        cum.withColumn("pick", F.row_number().over(pick))
        .where(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("ts").alias("cp_ts"),
            F.col("rn").cast("long").alias("cp_index"),
            F.col("n").cast("long").alias("n_events"),
            "cusum",
        )
    )


@register(
    "q_dq_freshness",
    oracle="""
    WITH per AS (
        SELECT event_type, COUNT(*) AS n_events, MAX(ts) AS last_ts
        FROM events GROUP BY event_type
    ), g AS (SELECT MAX(ts) AS global_last FROM events)
    SELECT p.event_type, p.n_events, p.last_ts,
           CAST((epoch_us(g.global_last) - epoch_us(p.last_ts)) // 1000000
                AS BIGINT) AS lag_sec,
           (epoch_us(g.global_last) - epoch_us(p.last_ts)) >= 3600000000
               AS stale
    FROM per p CROSS JOIN g
    """,
)
def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness gate: per event stream, the watermark lag behind the
    most recent ingested event, with an SLA flag at 1 hour — the
    pipeline-health check a serving table runs before publishing. Two
    tiny aggregates (per-type + global 1-row dim) over one scan; lag
    arithmetic in exact epoch MICROSECONDS (integer div to seconds), so
    no float or timezone hazard exists."""
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts")
    )
    g = ev.agg(F.max("ts").alias("global_last"))
    _lag = (
        "unix_micros(CAST(global_last AS TIMESTAMP))"
        " - unix_micros(CAST(last_ts AS TIMESTAMP))"
    )
    # integer `div`, not floor(double /): the double path is exact only
    # below 2^53 µs (~285 years of lag) — the same class as the r6 LTTB
    # bucket fix; div == the oracle's `//` for this non-negative lag
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        "last_ts",
        F.expr(f"({_lag}) div 1000000").cast("long").alias("lag_sec"),
        (F.expr(_lag) >= F.lit(3600000000)).alias("stale"),
    )


@register(
    "q_win_concurrency",
    oracle="""
    WITH edges AS (
        SELECT event_type, ts AS edge_ts, event_id, 1 AS delta FROM events
        UNION ALL
        SELECT event_type, ts + INTERVAL '5 minutes', event_id, -1 FROM events
    ), running AS (
        SELECT event_type, edge_ts, delta,
               CAST(SUM(delta) OVER (PARTITION BY event_type
                                     ORDER BY edge_ts, delta, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS concurrent
        FROM edges
    )
    SELECT event_type,
           MAX(concurrent) AS peak_concurrency,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
    FROM running GROUP BY event_type
    """,
)
def q_win_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency per stream (each event opens a 5-minute
    interval): the classic +1/-1 sweep — explode each interval into open and
    close edges, running-sum in edge order, take the max. Closes sort
    BEFORE opens at the same instant (delta -1 < 1), so touching
    intervals don't double-count; event_id completes the total order.
    One union + one window pass — O(2n) rows, per-key state O(1); at
    100 TB, partition the sweep by (key, day) with boundary carry-in
    (the incremental-rollup pattern) instead of one unbounded frame."""
    ev = t(spark, sf_dir, "events")
    opens = ev.select(
        "event_type", F.col("ts").alias("edge_ts"), "event_id", F.lit(1).alias("delta")
    )
    closes = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("edge_ts"),
        "event_id",
        F.lit(-1).alias("delta"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("edge_ts", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = opens.unionByName(closes).withColumn(
        "concurrent", F.sum("delta").over(w).cast("long")
    )
    return running.groupBy("event_type").agg(
        F.max("concurrent").alias("peak_concurrency"),
        F.floor(F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


@register(
    "q_dq_benford",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                    1, 1) AS INT) AS d
        FROM orders WHERE o_totalprice >= 1.0
    ), n AS (SELECT COUNT(*) AS total FROM digits),
    obs AS (SELECT d, COUNT(*) AS cnt FROM digits GROUP BY d)
    SELECT o.d AS leading_digit, o.cnt,
           CAST(o.cnt AS DOUBLE) / total AS observed_p,
           CAST(floor(ln(1.0 + 1.0 / o.d) / ln(10.0) * 1000000) AS BIGINT)
               AS benford_ppm
    FROM obs o CROSS JOIN n
    """,
)
def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of the money column — the forensic DQ check for
    fabricated or truncated numeric data: observed leading-digit shares
    vs the log-law expectation. The leading digit comes from the exact
    DECIMAL rendering (no float-format divergence); the expected share is
    ln-based and emitted as a floor-quantized ppm integer so the only
    hashed doubles are exact-count ratios. One scan, two tiny
    aggregates."""
    o = t(spark, sf_dir, "orders")
    digits = o.where(F.col("o_totalprice") >= 1.0).select(
        F.substring(dec2("o_totalprice").cast("string"), 1, 1).cast("int").alias("d")
    )
    n = digits.agg(F.count(F.lit(1)).alias("total"))
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    benford_ppm = F.floor(
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("d")) / F.log(F.lit(10.0)) * 1000000
    ).cast("long")
    return obs.crossJoin(F.broadcast(n)).select(
        F.col("d").alias("leading_digit"),
        "cnt",
        (F.col("cnt").cast("double") / F.col("total")).alias("observed_p"),
        benford_ppm.alias("benford_ppm"),
    )


@register(
    "q_join_pit",
    # The `pv <> value` change-detection below is NULL-UNSAFE ON BOTH
    # ENGINES BY DESIGN (same change-collapse semantics as q_scd2_build's
    # oracle, which this one embeds) — fuzz-proven in r8's <> audit. Do
    # NOT convert to IS DISTINCT FROM; the q_table_diff null-safe fix
    # does not generalize to the collapse compare.
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'click'
    ), ordered AS (
        SELECT user_id, ts, event_id, value,
               lag(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS pv
        FROM clicks
    ), changes AS (
        SELECT * FROM ordered WHERE pv IS NULL OR pv <> value
    ), vers_all AS (
        SELECT user_id,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT)
                   AS version,
               ts AS valid_from, value AS dim_value
        FROM changes
    ), vers AS (
        -- one row per (user_id, valid_from): DuckDB's native ASOF JOIN has
        -- no tiebreak for same-instant versions, so resolve 'latest version
        -- wins' BEFORE the join on both engines
        SELECT user_id, version, valid_from, dim_value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, valid_from
                                         ORDER BY version DESC) AS rn
            FROM vers_all
        ) WHERE rn = 1
    ), p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, p.value,
           v.valid_from AS asof_ts,
           v.version AS asof_version,
           v.dim_value AS asof_dim_value
    FROM p ASOF LEFT JOIN vers v
      ON p.user_id = v.user_id AND v.valid_from <= p.ts
    """,
)
def q_join_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension join — the feature-store primitive: each
    purchase is enriched with the SCD2 dimension version (built from the
    user's click-value change log, the q_scd2_build shape) that was in
    effect AT the purchase instant. Because SCD2 validity intervals
    partition time per key, PIT containment equals 'latest valid_from at
    or before ts', so the scale-safe union+window as-of join
    (operators/asof.py — ONE shuffle, no interval blow-up) answers it
    exactly; DuckDB's native ASOF JOIN is the oracle."""
    from ..operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = clicks.select(
        "user_id", "ts", "event_id", "value", F.lag("value").over(w).alias("pv")
    ).where(F.col("pv").isNull() | (F.col("pv") != F.col("value")))
    vers_all = changes.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        F.col("ts").alias("valid_from"),
        F.col("value").alias("dim_value"),
    )
    # Same-instant SCD2 versions (two click-value changes at one
    # (user_id, ts)) resolve 'latest version wins' on BOTH engines before
    # the as-of join — the oracle's native ASOF has no tiebreak of its own.
    wv = Window.partitionBy("user_id", "valid_from").orderBy(F.col("version").desc())
    vers = (
        vers_all.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        p,
        vers,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_value_cols=["version", "dim_value"],
        how="left",
        # two same-instant change events would otherwise make both
        # engines' pick unspecified; largest version wins, matching the
        # SCD2 'latest state at ts' semantics
        tiebreak="version",
    )


@register(
    "q_time_acf",
    oracle="""
    WITH ordered AS (
        SELECT event_type, value,
               lead(value, 1) OVER w AS v1,
               lead(value, 2) OVER w AS v2
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), moments AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   AS m,
               CAST(SUM(CAST(value AS DECIMAL(19,2))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx
        FROM events GROUP BY event_type
    ), lags AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN v1 IS NOT NULL
                        THEN CAST(value AS DECIMAL(19,2))
                             * CAST(v1 AS DECIMAL(18,2)) END) AS DOUBLE) AS sxy1,
               CAST(SUM(CASE WHEN v1 IS NOT NULL
                        THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sa1,
               CAST(SUM(CASE WHEN v1 IS NOT NULL
                        THEN CAST(v1 AS DECIMAL(18,2)) END) AS DOUBLE) AS sb1,
               CAST(SUM(CASE WHEN v1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN v2 IS NOT NULL
                        THEN CAST(value AS DECIMAL(19,2))
                             * CAST(v2 AS DECIMAL(18,2)) END) AS DOUBLE) AS sxy2,
               CAST(SUM(CASE WHEN v2 IS NOT NULL
                        THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS sa2,
               CAST(SUM(CASE WHEN v2 IS NOT NULL
                        THEN CAST(v2 AS DECIMAL(18,2)) END) AS DOUBLE) AS sb2,
               CAST(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2
        FROM ordered GROUP BY event_type
    )
    SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
           CAST(floor((l.sxy1 - m.m * l.sa1 - m.m * l.sb1 + l.n1 * m.m * m.m)
               / (m.sxx - 2.0 * m.m * m.sx + m.n * m.m * m.m)
               * 1000000 + 0.5) AS BIGINT) AS acf1_ppm,
           CAST(floor((l.sxy2 - m.m * l.sa2 - m.m * l.sb2 + l.n2 * m.m * m.m)
               / (m.sxx - 2.0 * m.m * m.sx + m.n * m.m * m.m)
               * 1000000 + 0.5) AS BIGINT) AS acf2_ppm
    FROM moments m JOIN lags l ON m.event_type = l.event_type
    """,
)
def q_time_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation at lags 1 and 2 per event stream — the seasonality /
    burstiness detector behind forecasting and anomaly models. Every sum
    that feeds the estimator is EXACT: 2-dp values and their pairwise
    products ride DECIMAL (products are DECIMAL(36,4) — still exact), so
    acf = (sxy - m*sa - m*sb + k*m^2) / (sxx - 2*m*sx + n*m^2) is a fixed
    chain of IEEE ops on bit-identical doubles. One window pass builds
    the lag pairs (lead), two domain-bounded aggregations finish — the
    same single-shuffle shape as the sessionize family."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        "value",
        F.lead("value", 1).over(w).alias("v1"),
        F.lead("value", 2).over(w).alias("v2"),
    )
    moments = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(dec2("value")).cast("double") / F.count(F.lit(1))).alias("m"),
        F.sum(dec2("value") * dec2("value")).cast("double").alias("sxx"),
        F.sum(dec2("value")).cast("double").alias("sx"),
    )

    def lag_sums(vc, suffix):
        has = F.col(vc).isNotNull()
        return [
            F.sum(F.when(has, dec2("value") * dec2(vc))).cast("double").alias(f"sxy{suffix}"),
            F.sum(F.when(has, dec2("value"))).cast("double").alias(f"sa{suffix}"),
            F.sum(F.when(has, dec2(vc))).cast("double").alias(f"sb{suffix}"),
            F.sum(F.when(has, 1).otherwise(0)).cast("long").alias(f"n{suffix}"),
        ]

    lags = ordered.groupBy("event_type").agg(
        *lag_sums("v1", "1"), *lag_sums("v2", "2")
    )
    den = (
        F.col("sxx")
        - F.lit(2.0) * F.col("m") * F.col("sx")
        + F.col("n") * F.col("m") * F.col("m")
    )

    def acf(suffix):
        # half-up ppm quantization (the q_text_tfidf portability pattern):
        # the raw ratio's inputs are exact-decimal sums cast to double, but
        # above 2^53 units (extreme |value|, fuzz_diff phase 1) the two
        # engines' decimal->double conversions can differ by 1 ulp, and the
        # heavy cancellation in the estimator amplifies it into the printed
        # digits. Integer ppm keeps the comparison conclusive.
        raw = (
            F.col(f"sxy{suffix}")
            - F.col("m") * F.col(f"sa{suffix}")
            - F.col("m") * F.col(f"sb{suffix}")
            + F.col(f"n{suffix}") * F.col("m") * F.col("m")
        ) / den
        return F.floor(raw * 1000000 + F.lit(0.5)).cast("long")

    return moments.join(lags, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        acf("1").alias("acf1_ppm"),
        acf("2").alias("acf2_ppm"),
    )


@register(
    "q_win_drawdown",
    oracle="""
    WITH cum AS (
        SELECT event_type, ts, event_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
                    (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,2)) AS c
        FROM events
    ), dd AS (
        SELECT event_type, ts, event_id,
               CAST(MAX(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) - c
                    AS DECIMAL(28,2)) AS drawdown
        FROM cum
    )
    SELECT event_type, ts AS dd_ts,
           CAST(drawdown AS DOUBLE) AS max_drawdown
    FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY drawdown DESC, ts ASC,
                                              event_id ASC) AS rn
        FROM dd
    ) WHERE rn = 1
    """,
)
def q_win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per stream: running-peak-minus-current over the
    cumulative series — the monitoring/finance metric whose plan is a
    running max OF a running sum (two stacked unbounded frames sharing
    one sort). Both cumulatives stay in exact DECIMAL end-to-end (the
    drawdown itself is a decimal subtraction — zero float involvement
    until the final output cast), so the argmax row (full-key tiebreak)
    is bit-determined. One shuffle; same per-key O(1) state as the CUSUM
    changepoint."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.sum(dec2("value")).over(w).cast("decimal(28,2)").alias("c"),
    )
    dd = cum.select(
        "event_type",
        "ts",
        "event_id",
        (F.max("c").over(w) - F.col("c")).cast("decimal(28,2)").alias("drawdown"),
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.desc("drawdown"), F.asc("ts"), F.asc("event_id")
    )
    return (
        dd.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("ts").alias("dd_ts"),
            F.col("drawdown").cast("double").alias("max_drawdown"),
        )
    )
