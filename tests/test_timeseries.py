"""Time-series operator tests: sessionize gap edges, interval_join parity
with the naive theta join, gapfill completeness, time_bucket alignment."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from quarkus_etl_spark.operators.timeseries import (
    gapfill,
    interval_join,
    sessionize,
    time_bucket,
)


def ts(minute: float, hour: int = 12) -> dt.datetime:
    whole = int(minute)
    micros = int(round((minute - whole) * 60 * 1_000_000))
    return dt.datetime(2024, 3, 1, hour, 0) + dt.timedelta(minutes=whole, microseconds=micros)


@pytest.fixture(scope="module")
def eventlog(spark):
    rows = [
        # user 1: two sessions (gap of exactly 30min does NOT split; >30 does)
        (1, 1, ts(0), 1.0),
        (2, 1, ts(30), 1.0),     # gap == 1800s -> same session
        (3, 1, ts(61), 1.0),     # gap 31min -> new session
        # user 2: equal timestamps ordered by the tiebreak, single session
        (4, 2, ts(5), 1.0),
        (5, 2, ts(5), 1.0),
        # user 3: lone event
        (6, 3, ts(50), 1.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )


def test_sessionize_gap_semantics(eventlog):
    out = sessionize(eventlog, ["user_id"], "ts", gap_s=1800, tiebreak=["event_id"])
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got[1] == 1 and got[2] == 1      # 30min gap inclusive
    assert got[3] == 2                      # 31min gap opens session 2
    assert got[4] == 1 and got[5] == 1      # ties share a session
    assert got[6] == 1                      # first event always session 1


def test_sessionize_single_shuffle(eventlog):
    plan = sessionize(
        eventlog, ["user_id"], "ts", gap_s=1800, tiebreak=["event_id"]
    )._sc is not None and sessionize(
        eventlog, ["user_id"], "ts", gap_s=1800, tiebreak=["event_id"]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_interval_join_matches_theta_join(spark):
    """Bucketed interval_join == naive theta join on a randomized log."""
    import random

    rng = random.Random(7)
    left = [(i, i % 5, ts(rng.uniform(0, 600))) for i in range(80)]
    right = [(1000 + i, i % 5, ts(rng.uniform(0, 600)), float(i)) for i in range(300)]
    ldf = spark.createDataFrame(left, "lid long, k long, lts timestamp_ntz")
    rdf = spark.createDataFrame(right, "rid long, k long, rts timestamp_ntz, v double")

    w_s = 900  # 15 min window
    fast = interval_join(ldf, rdf, ["k"], "lts", "rts", window_s=w_s, how="inner")
    got = {(r["lid"], r["rid"]) for r in fast.collect()}

    naive = ldf.join(
        rdf.withColumnRenamed("k", "rk"),
        (F.col("k") == F.col("rk"))
        & (F.col("rts") >= F.col("lts") - F.expr(f"INTERVAL {w_s} SECONDS"))
        & (F.col("rts") < F.col("lts")),
    )
    want = {(r["lid"], r["rid"]) for r in naive.collect()}
    assert got == want and len(want) > 100


def test_interval_join_left_keeps_unmatched(spark):
    ldf = spark.createDataFrame([(1, 1, ts(0))], "lid long, k long, lts timestamp_ntz")
    rdf = spark.createDataFrame(
        [(9, 1, ts(300), 2.0)], "rid long, k long, rts timestamp_ntz, v double"
    )  # right AFTER left -> no match
    out = interval_join(ldf, rdf, ["k"], "lts", "rts", window_s=900, how="left").collect()
    assert len(out) == 1 and out[0]["rid"] is None


def test_time_bucket_and_gapfill(spark):
    df = spark.createDataFrame(
        [(1, ts(1), "a"), (2, ts(16), "a"), (3, ts(46), "a"), (4, ts(1), "b")],
        "id long, ts timestamp_ntz, grp string",
    )
    agg = df.groupBy(time_bucket("ts", 900).alias("bucket"), "grp").agg(
        F.count(F.lit(1)).alias("n")
    )
    dense = gapfill(agg, "bucket", "15 MINUTES", ["grp"], {"n": F.lit(0)})
    rows = dense.collect()
    # grid: 12:00 -> 12:45 = 4 buckets x 2 groups = 8 cells
    assert len(rows) == 8
    got = {(r["bucket"].minute, r["grp"]): r["n"] for r in rows}
    assert got[(0, "a")] == 1 and got[(15, "a")] == 1 and got[(45, "a")] == 1
    assert got[(30, "a")] == 0              # the gap, zero-filled
    assert got[(0, "b")] == 1 and got[(15, "b")] == 0


def test_gapfill_outlier_span_fails_fast(spark, monkeypatch):
    """One clock-skewed row (a 2200-dated event) must raise a clear grid-
    budget error, not hang a single task materializing a 10M-element
    sequence array (round-5 phase-4 fuzz found the hang)."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import functions as F

    from quarkus_etl_spark.operators import timeseries
    from quarkus_etl_spark.operators.timeseries import gapfill

    agg = spark.createDataFrame(
        [(dt.datetime(1970, 1, 1), 1.0), (dt.datetime(2200, 1, 1), 2.0)],
        "bucket timestamp_ntz, v double",
    )
    # the error must NAME the offending bounds so the caller can find and
    # clamp the skewed source without re-profiling the data
    with _pytest.raises(ValueError, match=r"1970.*2200.*GAPFILL_MAX_CELLS"):
        gapfill(agg, "bucket", "1 MINUTE", [], {"v": F.lit(0.0)})
    # and the budget is the constant the check reads
    monkeypatch.setattr(timeseries, "GAPFILL_MAX_CELLS", 1000)
    with _pytest.raises(ValueError, match="cells"):
        gapfill(agg, "bucket", "15 MINUTES", [], {"v": F.lit(0.0)})


def test_gapfill_rejects_date_bucket(spark):
    """A DATE bucket silently mis-grids (day semantics vs µs math) — it
    must be a typed error up front, not a driver-side AttributeError from
    datetime interpretation (ADVICE r5)."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import functions as F

    from quarkus_etl_spark.operators.timeseries import gapfill

    agg = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 1.0)], "bucket date, v double"
    )
    with _pytest.raises(TypeError, match="timestamp"):
        gapfill(agg, "bucket", "1 DAY", [], {"v": F.lit(0.0)})


def test_gapfill_tz_aware_bucket_grid_is_instant_exact(spark):
    """tz-aware TimestampType buckets: bounds come from engine-side
    unix_micros of the instant, so the grid is exact regardless of the
    driver OS timezone (the old driver-side timegm path shifted the grid
    whenever the host TZ was not UTC — ADVICE r5)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from quarkus_etl_spark.operators.timeseries import gapfill

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    agg = spark.createDataFrame(
        [(t0, 1.0), (t0 + dt.timedelta(minutes=30), 3.0)],
        "bucket timestamp, v double",
    )
    dense = gapfill(agg, "bucket", "15 MINUTES", [], {"v": F.lit(0.0)})
    # compare as epoch-µs instants (collect()'s local-datetime rendering of
    # TimestampType depends on the driver OS TZ — exactly the ambiguity the
    # engine-side bounds path removes)
    out = sorted(
        (r["us"], r["v"])
        for r in dense.select(
            F.unix_micros("bucket").alias("us"), "v"
        ).collect()
    )
    base = int(t0.timestamp()) * 1_000_000
    assert out == [
        (base, 1.0),
        (base + 15 * 60 * 1_000_000, 0.0),
        (base + 30 * 60 * 1_000_000, 3.0),
    ]


def test_gapfill_chunked_grid_exact(spark):
    """The chunked generator emits exactly the lo..hi inclusive grid."""
    import datetime as dt

    from pyspark.sql import functions as F

    from quarkus_etl_spark.operators.timeseries import gapfill

    t0 = dt.datetime(2024, 1, 1)
    agg = spark.createDataFrame(
        [(t0, 1.0), (t0 + dt.timedelta(minutes=45), 4.0)],
        "bucket timestamp_ntz, v double",
    )
    out = sorted(
        (r["bucket"], r["v"])
        for r in gapfill(agg, "bucket", "15 MINUTES", [], {"v": F.lit(0.0)}).collect()
    )
    assert [b for b, _ in out] == [
        t0 + dt.timedelta(minutes=m) for m in (0, 15, 30, 45)
    ]
    assert [v for _, v in out] == [1.0, 0.0, 0.0, 4.0]


def test_gapfill_empty_input_is_empty(spark):
    from pyspark.sql import functions as F

    from quarkus_etl_spark.operators.timeseries import gapfill

    agg = spark.createDataFrame([], "bucket timestamp_ntz, v double")
    out = gapfill(agg, "bucket", "15 MINUTES", [], {"v": F.lit(0.0)})
    assert out.count() == 0
    assert out.columns == ["bucket", "v"]


def test_gapfill_rejects_calendar_steps(spark):
    import pytest as _pytest

    from quarkus_etl_spark.operators.timeseries import _step_us

    assert _step_us("15 MINUTES") == 15 * 60 * 1_000_000
    assert _step_us("1 DAY") == 86_400_000_000
    with _pytest.raises(ValueError):
        _step_us("1 MONTH")
    with _pytest.raises(ValueError):
        _step_us("bogus")


def test_time_bucket_pre_epoch_matches_duckdb(spark):
    """Pre-epoch (negative epoch-µs) bucket arithmetic: BOTH engines
    truncate integer division toward zero (Spark `div`, DuckDB `//`), so
    buckets agree — pinned here because the phase-4 fuzz deliberately
    keeps wide pre-epoch extremes out of the fixtures (grid-size blowup)."""
    import datetime as dt

    import duckdb

    from quarkus_etl_spark.operators.timeseries import time_bucket

    rows = [
        (1, dt.datetime(1969, 12, 31, 23, 59, 59)),
        (2, dt.datetime(1969, 12, 31, 23, 45, 0)),
        (3, dt.datetime(1970, 1, 1, 0, 0, 1)),
        (4, dt.datetime(1969, 7, 20, 20, 17, 40)),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
    got = {
        r["id"]: r["b"]
        for r in df.select("id", time_bucket("ts", 900).alias("b")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT id, to_timestamp((epoch_us(ts) // 900000000) * 900000000 "
            "/ 1000000)::TIMESTAMP AS b FROM (VALUES "
            + ", ".join(
                f"({i}, TIMESTAMP '{t}')" for i, t in rows
            )
            + ") v(id, ts)"
        ).fetchall()
    )
    assert got == want


def test_attribution_touch_key_full_id_width(spark):
    """ADVICE r7: the packed ordering key carries the touch id RAW — the
    old '% 2^32' collapsed equal-second touches whose ids differ by 2^32
    onto one key, making min_by/max_by tie-break arbitrarily (possibly
    differently per engine). Domain guard: ids outside [0, 1e10) raise
    instead of lpad-truncating silently."""
    import pytest
    from pyspark.sql import functions as F

    from quarkus_etl_spark.queries.analytics_q import attribution_touch_key

    big = 100 + (1 << 32)
    df = spark.createDataFrame([(100, 0), (big, 0)], "tid long, secs long")
    ks = {
        r["tid"]: r["k"]
        for r in df.select(
            "tid", attribution_touch_key(F.col("secs"), F.col("tid")).alias("k")
        ).collect()
    }
    assert ks[100] != ks[big]
    assert ks[100] < ks[big]  # lexicographic == numeric over the domain

    for bad in (-1, 10_000_000_000):
        bad_df = spark.createDataFrame([(bad, 0)], "tid long, secs long")
        with pytest.raises(Exception, match="out of domain"):
            bad_df.select(
                attribution_touch_key(F.col("secs"), F.col("tid"))
            ).collect()
