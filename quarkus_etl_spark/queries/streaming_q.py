"""Tier-B streaming surface, batch-checkable part (SURVEY.md §2 "Streaming").

The reference's pipeline is itself a streaming producer/consumer
(EtlMain.kt:51-56); its Spark analog is Structured Streaming. These queries
pin the *event-time semantics* (tumbling / sliding / session windows,
keyed dedup) in batch mode, where DuckDB can oracle them; the
q_stream_live_* queries below run the same shapes as real readStream
micro-batch executions over `quarkus_etl_spark.streaming`'s file source
and memory sink.

Window-alignment note: Spark's `window()` aligns to the epoch; DuckDB's
`time_bucket` sub-day origin is 2000-01-01, which is itself 5-minute-aligned
to the epoch, so bucket edges coincide.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .base import dec2, register, sql_dsum, t

_SUM_VAL = sql_dsum("value", "sum_value")


# The replay directory this process last published, per scratch path,
# with the identity of the events fixture it was written from.
_REPLAYED: dict[str, tuple[str, int, int]] = {}


def _replay_events(spark: SparkSession, sf_dir: str) -> str:
    """The events table re-materialized as a 4-file parquet directory (ts
    cast to the watermarkable `timestamp`) for a file stream, which reads
    each file as micro-batch input; returns its path.

    Every live query streams the same bytes, so the directory is written
    once per process and shared. It is keyed by the fixture's identity:
    `realpath(sf_dir)` plus the `events.parquet` mtime_ns and size. When
    the key changes or the directory is gone it is written again, into a
    temp directory first and then renamed into place, so a stream never
    lists a half-written replay. What one write costs is in SCALE.md
    "Streaming"."""
    from .lifecycle_q import _scratch

    src = os.path.join(os.path.realpath(sf_dir), "events.parquet")
    st = os.stat(src)
    key = (src, st.st_mtime_ns, st.st_size)
    path = _scratch(sf_dir, "events_stream")
    if _REPLAYED.get(path) == key and os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    ev = t(spark, sf_dir, "events")
    ev.withColumn("ts", F.col("ts").cast("timestamp")).repartition(4).write.parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _REPLAYED[path] = key
    return path


def _run_live(spark: SparkSession, stream: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run `stream` to completion into the memory sink `name` inside the
    stream start scope (state-sized shuffle partitions, local checkpoint
    manager) and return the sink's table."""
    from ..streaming.streams import run_stream_to_memory, state_partitions

    with state_partitions(spark):
        run_stream_to_memory(stream, name, output_mode=output_mode).stop()
    return spark.table(name)


@register(
    "q_stream_tumbling",
    oracle=f"""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
           event_type, COUNT(*) AS cnt, {_SUM_VAL}
    FROM events
    GROUP BY ALL
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "5 minutes")
    return (
        ev.groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(dec2("value")).cast("double").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


@register(
    "q_stream_sliding",
    oracle=f"""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS window_start,
               value
        FROM events
    )
    SELECT window_start, window_start + INTERVAL '10 minutes' AS window_end,
           COUNT(*) AS cnt, {_SUM_VAL}
    FROM assigned GROUP BY window_start
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding by 5: each event lands in exactly two
    windows; the oracle materializes the two assignments explicitly."""
    ev = t(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(win)
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum(dec2("value")).cast("double").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "cnt",
            "sum_value",
        )
    )


@register(
    "q_stream_session",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER w < INTERVAL '5 minutes' THEN 0 ELSE 1 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '5 minutes' AS session_end,
           COUNT(*) AS n_events, {_SUM_VAL}
    FROM sess GROUP BY user_id, sess_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute inactivity gap) per user — built-in
    `session_window`; the oracle is the classic gaps-and-islands rewrite.
    Spark merges events strictly-within gap, so the oracle flag uses `<`."""
    ev = t(spark, sf_dir, "events")
    sw = F.session_window("ts", "5 minutes")
    return (
        ev.groupBy(sw, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_stream_dedup",
    oracle="""
    SELECT user_id, event_type, ts, event_id, value FROM (
        SELECT user_id, event_type, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts ASC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the earliest event per (user, type). Batch analog
    of streaming `dropDuplicatesWithinWatermark`; deterministic keep-first
    (plain dropDuplicates keeps an arbitrary row, which can't be oracled)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "ts", "event_id", "value")
    )


@register(
    "q_stream_live_tumbling",
    oracle=f"""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes'
               AS window_end,
           event_type, COUNT(*) AS cnt, {_SUM_VAL}
    FROM events
    GROUP BY ALL
    """,
)
def q_stream_live_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming execution inside the oracle gate: the
    events table's shared 4-file replay directory (`_replay_events`),
    consumed through readStream (each file a micro-batch input),
    aggregated with a watermarked tumbling window, and run to completion
    into a complete-mode memory sink. Complete mode over a finite source is
    exactly the batch answer, and the sums ride DECIMAL, so the streamed
    state-store result hash-matches the same SQL the batch
    q_stream_tumbling family uses — the incremental execution path itself
    is what's under test. Output timestamps are cast back to ntz (UTC
    session makes values coincide)."""
    from ..streaming.streams import file_stream

    path = _replay_events(spark, sf_dir)
    agg = (
        file_stream(spark, path, max_files_per_trigger=2)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec2("value")).cast("double").alias("sum_value"),
        )
    )
    return _run_live(spark, agg, "live_tumbling", "complete").select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "cnt",
        "sum_value",
    )


@register(
    "q_stream_live_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_live_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyed dedup executed for real: readStream over the shared
    4-file events replay directory (`_replay_events`), dropDuplicates on
    (user_id, event_type), append-mode memory sink run to completion.
    Every first-seen key is emitted exactly once, so the key-only output
    equals batch DISTINCT no matter how the micro-batches split — which is what makes a live stateful-dedup
    execution oracle-checkable (non-key columns would expose the engine's
    arbitrary which-duplicate-won choice). State is bounded by the key
    domain; a watermarked `dropDuplicatesWithinWatermark` would bound it
    by time instead (q_stream_dedup is its batch analog)."""
    from ..streaming.streams import file_stream

    path = _replay_events(spark, sf_dir)
    dd = (
        file_stream(spark, path, max_files_per_trigger=2)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _run_live(spark, dd, "live_dedup", "append")


@register(
    "q_stream_live_join",
    oracle="""
    SELECT p.event_id AS p_event, v.event_id AS v_event, p.user_id,
           (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS lag_s
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.ts > p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
    WHERE p.event_type = 'purchase' AND v.event_type IN ('view', 'click')
    """,
)
def q_stream_live_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An EXECUTED stream-stream join inside the oracle gate: purchases
    and view/click touches arrive as two independent watermarked streams
    (readStream twice over the shared events replay directory,
    micro-batched 2 files per trigger), joined on user within a 1-hour
    lookback (streams.py::stream_stream_interval_join), run to completion
    into an append-mode memory sink.

    Stream-stream INNER join emits each match in the first micro-batch
    where both rows are present — emission never waits on the watermark
    (only state EVICTION does) — so over a finite source the appended
    output is exactly the batch interval join, which is what makes a live
    dual-stream execution hash-checkable against SQL. Two input-domain
    hazards found by the adversarial fuzz (r9 seed-31 @sf0.01,
    spark=119 vs batch=121) and fixed here:

    - the no-eviction watermark must exceed the event-time span of ANY
      input this gate can feed — NOT just the pristine fixture's 30
      days: the fuzz mints 1900 and 2200 clock-skew extremes (~110 000
      days apart), and a 90-day watermark loses matches when a
      far-future row in an early micro-batch advances the watermark
      past later-arriving normal rows. 150 000 days covers the era.
    - **Spark floors stream watermarks at epoch 0** (watermark state is
      non-negative ms), so a PRE-1970 event time is late-by-construction
      in a watermarked stream-stream join no matter the delay — proven
      with a minimal repro: two same-instant 1900 rows under a
      150 000-day watermark join to NOTHING. The engine-side answer is
      ERA TRANSLATION: shift both sides' event time by a constant
      +73 000 days (~200 years) before the watermarked join; the
      interval condition and the lag difference are translation-
      invariant (UTC session, fixed 86 400 s days), so the output is
      bit-identical to the batch oracle while 1900-era legacy rows land
      safely post-epoch.

    Production would size the watermark to the real out-of-orderness and
    accept dropping older-than-watermark arrivals, keeping per-key state
    bounded by watermark + window."""
    from ..streaming.streams import file_stream, stream_stream_interval_join

    path = _replay_events(spark, sf_dir)
    # era translation (see docstring): both sides shifted identically, so
    # the join condition and lag_s are unchanged while pre-epoch rows
    # clear Spark's non-negative watermark domain
    era = F.expr("INTERVAL '73000' DAY")
    purchases = (
        file_stream(spark, path, max_files_per_trigger=2)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event"),
            "user_id",
            (F.col("ts") + era).alias("p_ts"),
        )
    )
    touches = (
        file_stream(spark, path, max_files_per_trigger=2)
        .where(F.col("event_type").isin("view", "click"))
        .select(
            F.col("event_id").alias("v_event"),
            "user_id",
            (F.col("ts") + era).alias("v_ts"),
        )
    )
    joined = stream_stream_interval_join(
        purchases,
        touches,
        key="user_id",
        left_ts="p_ts",
        right_ts="v_ts",
        window="1 hour",
        watermark="150000 days",
    )
    out = joined.select(
        "p_event",
        "v_event",
        "user_id",
        F.expr("(unix_micros(p_ts) - unix_micros(v_ts)) DIV 1000000").alias("lag_s"),
    )
    return _run_live(spark, out, "live_ssj", "append")


@register(
    "q_stream_live_sliding",
    oracle=f"""
    WITH assigned AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
            AS window_start, value
        FROM events
    )
    SELECT window_start, window_start + INTERVAL '10 minutes' AS window_end,
           COUNT(*) AS cnt, {_SUM_VAL}
    FROM assigned GROUP BY window_start
    """,
)
def q_stream_live_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed OVERLAPPING-window streaming aggregation: the sliding
    10-min/5-min window (every event belongs to two windows — double
    state entries per event, unlike the tumbling case) run through
    readStream micro-batches into a complete-mode memory sink. Completes
    the executed-streaming family: tumbling, sliding, keyed dedup,
    stream-stream join."""
    from ..streaming.streams import file_stream

    path = _replay_events(spark, sf_dir)
    agg = (
        file_stream(spark, path, max_files_per_trigger=2)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(dec2("value")).cast("double").alias("sum_value"),
        )
    )
    return _run_live(spark, agg, "live_sliding", "complete").select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "cnt",
        "sum_value",
    )


@register(
    "q_stream_live_session",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER w < INTERVAL '5 minutes'
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '5 minutes' AS session_end,
           COUNT(*) AS n_events, {_SUM_VAL}
    FROM sess GROUP BY user_id, sess_id
    """,
)
def q_stream_live_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed SESSION-window streaming aggregation: dynamic gap-merged
    windows maintained in the state store across micro-batches (sessions
    split across input files must merge server-side), run to completion
    in complete mode — which over a finite source equals the batch
    gaps-and-islands answer. Completes the executed-streaming family:
    every window kind the batch surface declares also RUNS incrementally."""
    from ..streaming.streams import file_stream

    path = _replay_events(spark, sf_dir)
    agg = (
        file_stream(spark, path, max_files_per_trigger=2)
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).cast("double").alias("sum_value"),
        )
    )
    return _run_live(spark, agg, "live_session", "complete").select(
        "user_id",
        F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "sum_value",
    )


@register(
    "q_stream_live_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment,
           CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def q_stream_live_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An EXECUTED stream–static (dimension-enrichment) join: purchases
    stream in micro-batches and join the STATIC customer table — the
    standard streaming-ETL enrichment shape. Stream-static inner joins
    are stateless (each micro-batch joins against the dimension snapshot;
    no watermark, no state store), so the append-mode output equals the
    batch join exactly regardless of how files split into batches. At
    scale the static side is broadcast per micro-batch — the same
    broadcast-the-dimension decision the batch planner makes.
    Reference parity: the reference's continuous JDBC copy enriched at
    the destination engine (EtlMain.kt:103-108); this is the Spark-native
    in-flight form."""
    from ..streaming.streams import file_stream

    path = _replay_events(spark, sf_dir)
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = (
        file_stream(spark, path, max_files_per_trigger=2)
        .where(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .select(
            "event_id",
            "user_id",
            "c_mktsegment",
            dec2("value").cast("double").alias("value"),
        )
    )
    return _run_live(spark, joined, "live_static_join", "append")


@register("q_stream_live_eviction")
def q_stream_live_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark EVICTION executed for real (the drop semantics the other
    live streams deliberately pin away with no-eviction watermarks): a
    synthetic 3-file sequence is streamed one file per micro-batch through
    a 10-minute watermark + 15-minute tumbling window in APPEND mode, so
    late data and window finalization both actually fire:

      file 0: three rows in [10:00,10:15) and one 10:40 row
              -> the watermark advances to 10:30 after this batch;
      file 1: an on-time 10:45 row -> at this batch's commit the
              [10:00,10:15) window (end 10:15 <= wm 10:30) FINALIZES:
              emitted with cnt 3, state evicted;
      file 2: a LATE 10:05:30 row — its window is already closed and
              gone from the state store, so it is DROPPED with no
              duplicate emission — plus an 11:30 row that pushes the
              watermark past every earlier window; its own window stays
              open forever and append mode therefore never emits it.

    Expected output is exactly three finalized windows with counts 3/1/1
    — the [10:00,10:15) count stays 3 BECAUSE the post-eviction arrival
    was dropped (batch semantics would say 4). Empirically pinned nuance
    (tests/test_streaming.py): the watermark is a LOWER BOUND on how
    long late data is accepted — a late row whose window is still in
    state (watermark crossed but eviction not yet executed) IS
    aggregated; only after finalization is the drop guaranteed. That is
    Spark's documented contract and the one that matters for state
    sizing. Deterministic by construction (fixed literals, one file per
    trigger, mtime-ordered file discovery), but intentionally
    oracle-less: no batch SQL computes "state at the time the watermark
    passed" — this semantics class only a live run can witness.

    At 100 TB this is the property that keeps stream state bounded: the
    watermark defines the drop point, closed windows leave the state
    store, and a replayed/late source cannot resurrect them."""
    import datetime as _dt
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..streaming.streams import file_stream

    from .lifecycle_q import _scratch

    path = _scratch(sf_dir, "events_stream_evict")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    day = _dt.datetime(2024, 3, 1)
    batches = [
        [(1, (10, 0, 0)), (2, (10, 5, 0)), (3, (10, 14, 0)), (4, (10, 40, 0))],
        [(6, (10, 45, 0))],  # commit finalizes+evicts [10:00,10:15) cnt 3
        [(5, (10, 5, 30)), (7, (11, 30, 0))],  # late-after-eviction + closer
    ]
    # Files come from pyarrow, not a Spark write job: a one-row Spark
    # parquet write carries ~5 s of fixed job/committer overhead ON EACH
    # of the three files (measured r6); pyarrow writes them in ~ms and the
    # stream source only cares about the bytes.
    # The file source discovers files oldest-first by modification time,
    # so each file gets an explicit mtime one second after the previous
    # one: the order is fixed by construction. They end at the current
    # second, well inside the source's maxFileAge.
    first_mtime = int(_time.time()) - len(batches) + 1
    for i, rows in enumerate(batches):
        tbl = pa.table({
            "event_id": pa.array([eid for eid, _ in rows], pa.int64()),
            "ts": pa.array(
                [
                    day + _dt.timedelta(hours=h, minutes=m, seconds=s)
                    for _, (h, m, s) in rows
                ],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        })
        f = os.path.join(path, f"batch{i}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (first_mtime + i, first_mtime + i))
    agg = (
        file_stream(spark, path, max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _run_live(spark, agg, "live_eviction", "append").select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "cnt",
    )
