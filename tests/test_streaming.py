"""Structured Streaming smoke tests (SURVEY.md §2 streaming rows-only items):
real readStream pipelines over `file_stream` and `run_stream_to_memory` —
watermarked tumbling windows, stateful dedup, a foreachBatch ETL sink through
the batch writer — checked against their batch equivalents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quarkus_etl_spark.catalog import load_table
from quarkus_etl_spark.config import WriteTarget
from quarkus_etl_spark.sources.writers import write_dataframe
from quarkus_etl_spark.streaming import file_stream, run_stream_to_memory


def _tumbling_counts(events, window="5 minutes", watermark="10 minutes"):
    """Watermarked tumbling-window count/sum per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def _manager_of(q) -> str:
    """Simple class name of a running query's checkpoint file manager."""
    return q._jsq.streamingQuery().offsetLog().fileManager().getClass().getSimpleName()


FS_MANAGER = "FileSystemBasedCheckpointFileManager"


@pytest.fixture
def live_managers(monkeypatch):
    """Checkpoint file manager of every memory-sink run, by sink name."""
    from quarkus_etl_spark.streaming import streams

    seen: dict[str, str] = {}
    run = streams.run_stream_to_memory

    def recording(df, name, output_mode="append"):
        q = run(df, name, output_mode)
        seen[name] = _manager_of(q)
        return q

    monkeypatch.setattr(streams, "run_stream_to_memory", recording)
    return seen


def test_streaming_import_leaves_interpreter_alone():
    """Importing the streaming module must not edit sys.path or put a
    `google` package in place: workers that unpickle a streaming function
    import this module too."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import json, sys; before = list(sys.path); "
        "import quarkus_etl_spark.streaming; "
        "print(json.dumps([sys.path == before, 'google' in sys.modules]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert json.loads(out.stdout.splitlines()[-1]) == [True, False]


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Fixture events re-materialized as a 4-file parquet directory so the
    file stream sees multiple micro-batch inputs (and µs timestamps)."""
    path = tmp_path_factory.mktemp("events_stream")
    load_table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp")).repartition(4).write.mode("overwrite").parquet(str(path / "events"))
    return str(path / "events")


def test_tumbling_stream_matches_batch(spark, sf_dir, events_dir):
    stream = _tumbling_counts(file_stream(spark, events_dir))
    q = run_stream_to_memory(stream, "tumbling_smoke", output_mode="append")
    try:
        got = spark.table("tumbling_smoke")
        batch = (
            load_table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # watermark append-mode emits only finalized windows; every emitted
        # window must match its batch counterpart exactly
        emitted = got.count()
        assert emitted > 0
        joined = got.join(
            batch.select(
                F.col("window.start").alias("window_start"),
                "event_type",
                F.col("cnt").alias("batch_cnt"),
            ),
            ["window_start", "event_type"],
        )
        assert joined.where(F.col("cnt") != F.col("batch_cnt")).count() == 0
        assert joined.count() == emitted
    finally:
        q.stop()


def test_session_stream_runs(spark, events_dir):
    stream = (
        file_stream(spark, events_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
    q = run_stream_to_memory(stream, "session_smoke", output_mode="append")
    try:
        got = spark.table("session_smoke")
        assert got.count() > 0
        # session invariant: end = last event + gap => end > start
        assert got.where(F.col("session_end") <= F.col("session_start")).count() == 0
    finally:
        q.stop()


def test_dedup_within_watermark(spark, sf_dir, events_dir):
    stream = (
        file_stream(spark, events_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    q = run_stream_to_memory(stream, "dedup_smoke", output_mode="append")
    try:
        got = spark.table("dedup_smoke")
        batch_distinct = (
            load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct().count()
        )
        # within-watermark dedup can keep more than a global distinct (keys
        # recur beyond the horizon) but never less, and never more than input
        n = got.count()
        total = load_table(spark, sf_dir, "events").count()
        assert batch_distinct <= n <= total
        # no exact duplicate rows within a watermark window for a key+ts
        assert got.groupBy("user_id", "event_type", "ts").count().where("count > 2").count() == 0
    finally:
        q.stop()


def test_stream_etl_job_foreachbatch(spark, events_dir, tmp_path):
    """A file stream sunk through foreachBatch -> the batch writer lands
    every source row once, with the source's columns."""
    out = str(tmp_path / "etl_out")
    target = WriteTarget(format="parquet", path=out, mode="append")
    stream = file_stream(spark, events_dir).where(F.col("event_type") == "purchase")
    q = (
        stream.writeStream.foreachBatch(lambda batch, _id: write_dataframe(batch, target))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    src = spark.read.parquet(events_dir).where(F.col("event_type") == "purchase")
    assert got.count() == src.count()
    assert set(got.columns) == set(src.columns)


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: once the watermark has advanced past a window's
    close, rows for that window arriving later are DROPPED from the
    aggregation (the defined, bounded-state behavior the engine promises).
    Two files processed as separate micro-batches: fresh data first, then a
    very-late row."""
    import datetime as dt

    src = str(tmp_path / "late_src")
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    fresh = [(i, base + dt.timedelta(minutes=30 + i), 1, "click", 1.0, "{}") for i in range(20)]
    late = [(99, base, 1, "click", 999.0, "{}")]  # 30 min older than fresh
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(fresh, schema).coalesce(1).write.mode("overwrite").parquet(src)

    stream = _tumbling_counts(
        file_stream(spark, src, max_files_per_trigger=1), window="5 minutes", watermark="10 minutes"
    )
    q = stream.writeStream.format("memory").queryName("late_smoke").outputMode("append").start()
    try:
        q.processAllAvailable()  # watermark now ~ max(fresh) - 10min >> late ts
        spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = spark.table("late_smoke")
        # the late row's window must not contain its value anywhere
        assert got.where(F.col("sum_value") >= 999.0).count() == 0
        late_window = got.where(F.col("window_start") <= base).where(
            F.col("window_end") > base
        )
        assert late_window.where(F.col("cnt") > 0).where(F.col("sum_value") == 999.0).count() == 0
    finally:
        q.stop()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir):
    """Purchases stream ⋈ views stream within a 1-hour lookback equals the
    same interval join run in batch over the same files."""
    from quarkus_etl_spark.streaming import stream_stream_interval_join

    def split(df):
        p = (
            df.where(F.col("event_type") == "purchase")
            .select(F.col("user_id"), F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"))
        )
        v = (
            df.where(F.col("event_type") == "view")
            .select(F.col("user_id"), F.col("event_id").alias("v_id"), F.col("ts").alias("v_ts"))
        )
        return p, v

    sp, sv = split(file_stream(spark, events_dir))
    joined = stream_stream_interval_join(
        sp, sv, key="user_id", left_ts="p_ts", right_ts="v_ts", window="1 hour"
    )
    q = run_stream_to_memory(joined.select("p_id", "v_id"), "ssj_smoke")
    try:
        got = {(r["p_id"], r["v_id"]) for r in spark.table("ssj_smoke").collect()}
    finally:
        q.stop()

    bp, bv = split(
        load_table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    )
    batch = bp.join(
        bv,
        (bp["user_id"] == bv["user_id"])
        & (bv["v_ts"] > bp["p_ts"] - F.expr("INTERVAL 1 HOUR"))
        & (bv["v_ts"] <= bp["p_ts"]),
    )
    want = {(r["p_id"], r["v_id"]) for r in batch.select("p_id", "v_id").collect()}
    assert got == want and len(want) > 0


def test_stream_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Source-offset checkpointing + the file sink's transactional
    manifest = exactly-once across a restart: run a checkpointed stream
    over half the input, stop, add the rest, restart with the SAME
    checkpoint — the second run must pick up only the new files, and the
    sink must hold every source row exactly once."""
    import shutil
    from pathlib import Path

    from pyspark.sql import functions as F
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.streaming.streams import file_stream

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    staging = tmp_path / "staging"
    active = tmp_path / "active"
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    ev.repartition(4).write.parquet(str(staging))
    active.mkdir()
    files = sorted(staging.glob("*.parquet"))
    assert len(files) == 4
    for f in files[:2]:
        shutil.copy(f, active / f.name)

    def run_once():
        q = (
            file_stream(spark, str(active))
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    first = spark.read.parquet(out).count()
    assert 0 < first < ev.count()
    for f in files[2:]:
        shutil.copy(f, active / f.name)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # nothing lost, nothing doubled
    assert got.select("event_id").distinct().count() == ev.count()


def test_live_eviction_drops_late_rows(spark, live_managers):
    """Row-exact pin of q_stream_live_eviction (the driver-visible
    watermark-eviction query): three finalized windows, the [10:00,10:15)
    count stays 3 because the post-eviction late arrival was dropped, and
    the final 11:30 window never emits (append mode, watermark never
    passes it). The run checkpoints through the FileSystem-based
    manager."""
    import datetime as dt

    from quarkus_etl_spark.queries.streaming_q import q_stream_live_eviction

    got = sorted(
        (r["window_start"], r["window_end"], r["event_type"], r["cnt"])
        for r in q_stream_live_eviction(spark, "/root/testdata/sf0.001").collect()
    )
    d = lambda h, m: dt.datetime(2024, 3, 1, h, m)  # noqa: E731
    assert got == [
        (d(10, 0), d(10, 15), "view", 3),
        (d(10, 30), d(10, 45), "view", 1),
        (d(10, 45), d(11, 0), "view", 1),
    ]
    assert live_managers == {"live_eviction": FS_MANAGER}


def test_watermark_is_lower_bound_while_state_lives(spark, tmp_path):
    """The OTHER half of the eviction contract (empirically pinned r6): a
    late row whose window has crossed the watermark but is STILL IN STATE
    (eviction runs at batch commit, not at watermark advance) is
    aggregated — the watermark bounds how long late data is guaranteed
    accepted from below; the guaranteed DROP only starts once the window
    is finalized and evicted. State sizing must assume windows live until
    the first commit after the watermark passes them."""
    import datetime as dt
    import time as _time

    src = str(tmp_path / "wm_lb_src")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    day = dt.datetime(2024, 3, 1)
    mk = lambda h, m, s=0: day + dt.timedelta(hours=h, minutes=m, seconds=s)  # noqa: E731
    batches = [
        # wm after this batch: 10:30 — [10:00,10:15) crossed but not yet
        # evicted (eviction happens at the NEXT batch's commit)
        [(1, mk(10, 0)), (2, mk(10, 5)), (3, mk(10, 14)), (4, mk(10, 40))],
        # late row, window still in state -> aggregated (cnt becomes 4)
        [(5, mk(10, 5, 30)), (6, mk(10, 45))],
        [(7, mk(11, 30))],
    ]
    for rows in batches:
        spark.createDataFrame(
            [(eid, ts, 1, "view", 1.0, "{}") for eid, ts in rows], schema
        ).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(0.3)
    agg = (
        file_stream(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_lb")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window"].start, r["window"].end): r["cnt"]
            for r in spark.table("wm_lb").collect()
        }
        assert got[(mk(10, 0), mk(10, 15))] == 4  # late row WAS aggregated
    finally:
        q.stop()


def test_watermark_survives_restart(spark, tmp_path):
    """Watermark persistence across a stop/restart from checkpoint: after
    [10:00,10:15) finalizes+evicts and the query STOPS, a late row for it
    arriving in the restarted query must still be dropped. If restart
    reset the watermark to 1970 the late row would re-create the window's
    state and the 11:30 closer would emit a DUPLICATE [10:00,10:15) row —
    exactly-once window emission across restarts is what a 100 TB
    streaming job leans on every deploy."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "wm_rs_src"
    src.mkdir()
    cp = str(tmp_path / "wm_rs_cp")
    out = str(tmp_path / "wm_rs_out")
    day = dt.datetime(2024, 3, 1)
    mk = lambda h, m, s=0: day + dt.timedelta(hours=h, minutes=m, seconds=s)  # noqa: E731

    def write_file(name, rows):
        pq.write_table(
            pa.table({
                "event_id": pa.array([e for e, _ in rows], pa.int64()),
                "ts": pa.array([t for _, t in rows], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array([None] * len(rows), pa.string()),
            }),
            str(src / name),
        )

    def run_to_completion():
        agg = (
            file_stream(spark, str(src), max_files_per_trigger=1)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.col("window.start").alias("window_start"),
                "cnt",
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    write_file("f0.parquet", [(1, mk(10, 0)), (2, mk(10, 5)), (3, mk(10, 14)), (4, mk(10, 40))])
    write_file("f1.parquet", [(6, mk(10, 45))])  # evicts [10:00,10:15) cnt 3
    run_to_completion()
    # late row for the evicted window + a closer, AFTER a full stop
    write_file("f2.parquet", [(5, mk(10, 5, 30)), (7, mk(11, 30))])
    run_to_completion()

    got = spark.read.parquet(out).collect()
    first_window = [r["cnt"] for r in got if r["window_start"] == mk(10, 0)]
    assert first_window == [3]  # one emission, late row dropped post-restart


def test_eviction_stream_checkpoint_restart_no_duplicate_windows(spark, tmp_path):
    """VERDICT r6 #6: restart the WATERMARK-EVICTION query mid-sequence from
    its checkpoint. The restarted query must restore the watermark from the
    checkpoint (not recompute it from zero): if it did reset, the
    post-restart late row (10:05:30) would open a FRESH [10:00,10:15) state
    and append-emit a duplicate window with cnt 1 next to the pre-restart
    cnt-3 emission. Expected end state: exactly the same three finalized
    windows as the one-shot q_stream_live_eviction run — 3/1/1, each window
    exactly once — with exactly-once emission across the restart via the
    file sink's transactional manifest. Both runs checkpoint through the
    FileSystem-based manager."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from quarkus_etl_spark.streaming.streams import file_stream, state_partitions

    src = tmp_path / "src"
    src.mkdir()
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    day = dt.datetime(2024, 3, 1)
    # explicit mtimes a second apart fix oldest-first discovery order
    first_mtime = int(time.time()) - 3

    def write_batch(i, rows):
        tbl = pa.table({
            "event_id": pa.array([eid for eid, _ in rows], pa.int64()),
            "ts": pa.array(
                [day + dt.timedelta(hours=h, minutes=m, seconds=s)
                 for _, (h, m, s) in rows],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        })
        f = os.path.join(str(src), f"batch{i}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (first_mtime + i, first_mtime + i))

    def run_once():
        agg = (
            file_stream(spark, str(src), max_files_per_trigger=1)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "15 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.col("window.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "cnt",
            )
        )
        with state_partitions(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", cp)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            assert _manager_of(q) == FS_MANAGER
            q.stop()

    # phase A: the window-building batch only (watermark reaches 10:30 at
    # its commit), then STOP — mid-sequence, before eviction is witnessed
    write_batch(0, [(1, (10, 0, 0)), (2, (10, 5, 0)), (3, (10, 14, 0)),
                    (4, (10, 40, 0))])
    run_once()

    # phase B: restart from the checkpoint; the finalizer batch, then the
    # late-after-eviction row + the watermark closer
    write_batch(1, [(6, (10, 45, 0))])
    write_batch(2, [(5, (10, 5, 30)), (7, (11, 30, 0))])
    run_once()

    got = {
        (r["window_start"], r["cnt"])
        for r in spark.read.parquet(out).collect()
    }
    rows = spark.read.parquet(out).count()
    assert rows == len(got) == 3, f"duplicate or missing window emissions: {rows}"
    assert got == {
        (dt.datetime(2024, 3, 1, 10, 0), 3),   # NOT 4: late row dropped
        (dt.datetime(2024, 3, 1, 10, 30), 1),
        (dt.datetime(2024, 3, 1, 10, 45), 1),
    }


def test_stream_stream_join_checkpoint_restart_exactly_once(spark, tmp_path):
    """VERDICT r7 #6: mid-sequence checkpoint restart for the dual-watermark
    STREAM-STREAM JOIN (the largest state store in the streaming family) —
    the eviction-aggregate restart is already pinned; this pins the join's
    three restart invariants in one run:

    1. no duplicate emission: the (p1,v1) match emitted pre-restart must
       not re-emit (source offsets + parquet-sink manifest);
    2. join STATE survives restart: purchase p4 (unmatched, above the
       watermark at stop time) must match the post-restart touch v5 —
       a reset state store would lose the buffered row and the match;
    3. the WATERMARK is restored, not recomputed from zero: the late pair
       (p2 @10:45, v3 @10:40), both below the restored 11:50 watermark and
       arriving together in the FIRST post-restart micro-batch, must be
       dropped pre-join — a watermark reset to 1970 would accept both and
       append an extra (p2,v3) row.

    Expected end state: exactly the 3 matches a one-shot batch interval
    join over the non-late rows produces, each exactly once. Both runs
    checkpoint through the FileSystem-based manager."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from quarkus_etl_spark.streaming.streams import (
        file_stream,
        state_partitions,
        stream_stream_interval_join,
    )

    pdir, tdir = tmp_path / "purchases", tmp_path / "touches"
    pdir.mkdir()
    tdir.mkdir()
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    day = dt.datetime(2024, 3, 1)
    # explicit mtimes a second apart, in write order, fix each side's
    # file discovery order
    mtimes = iter(range(int(time.time()) - 4, int(time.time())))

    def write_side(dirpath, name, id_col, ts_col, rows):
        tbl = pa.table({
            id_col: pa.array([i for i, _, _ in rows], pa.int64()),
            "user_id": pa.array([u for _, u, _ in rows], pa.int64()),
            ts_col: pa.array(
                [day + dt.timedelta(hours=h, minutes=m) for _, _, (h, m) in rows],
                pa.timestamp("us", tz="UTC"),
            ),
        })
        f = os.path.join(str(dirpath), name)
        pq.write_table(tbl, f)
        mtime = next(mtimes)
        os.utime(f, (mtime, mtime))

    P_SCHEMA = "p_event long, user_id long, p_ts timestamp"
    T_SCHEMA = "v_event long, user_id long, v_ts timestamp"

    def run_once():
        purchases = (
            spark.readStream.schema(P_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(pdir))
        )
        touches = (
            spark.readStream.schema(T_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tdir))
        )
        joined = stream_stream_interval_join(
            purchases, touches, key="user_id",
            left_ts="p_ts", right_ts="v_ts",
            window="1 hour", watermark="10 minutes",
        ).select("p_event", "v_event", "user_id")
        with state_partitions(spark):
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", cp)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            assert _manager_of(q) == FS_MANAGER
            q.stop()

    # phase A: v1<->p1 match emits; p4 (u7 @11:55) buffers unmatched; the
    # @12:00 closers push both sides' watermarks to 11:50 (global = min)
    write_side(tdir, "t0.parquet", "v_event", "v_ts",
               [(101, 1, (10, 0)), (199, 99, (12, 0))])
    write_side(pdir, "p0.parquet", "p_event", "p_ts",
               [(1, 1, (10, 30)), (4, 7, (11, 55)), (98, 98, (12, 0))])
    run_once()
    pre = spark.read.parquet(out).collect()
    assert {(r["p_event"], r["v_event"]) for r in pre} == {(1, 101)}

    # phase B: restart from the checkpoint. One file per side = ONE first
    # micro-batch: the late pair (p2,v3) must die on the restored watermark,
    # v5 must find the restored p4 state, (p3,v4) is the fresh-liveness pair.
    write_side(pdir, "p1.parquet", "p_event", "p_ts",
               [(2, 2, (10, 45)), (3, 5, (12, 30))])
    write_side(tdir, "t1.parquet", "v_event", "v_ts",
               [(102, 2, (10, 40)), (103, 5, (12, 15)), (104, 7, (11, 52))])
    run_once()

    rows = spark.read.parquet(out).collect()
    got = {(r["p_event"], r["v_event"]) for r in rows}
    assert len(rows) == 3, f"duplicate or extra emission: {sorted(got)}"
    assert got == {(1, 101), (3, 103), (4, 104)}, sorted(got)


# VERDICT r8 #5 — close the plan-audit gate's streaming blind spot: the
# q_stream_live_* queries are excluded from tools/plan_audit.py's sweep
# (calling them executes a real micro-batch run), so their executed plans
# are captured HERE, from the runs themselves, and pinned to the same
# marker discipline the frozen batch manifest enforces. Expectations per
# query: (memory-sink name, required stateful-operator markers).
_LIVE_PLAN_EXPECT = {
    "q_stream_live_tumbling": (
        "live_tumbling", ["StateStoreRestore", "StateStoreSave"]),
    "q_stream_live_sliding": (
        "live_sliding", ["StateStoreRestore", "StateStoreSave"]),
    "q_stream_live_session": (
        "live_session", ["SessionWindowStateStore"]),
    "q_stream_live_dedup": ("live_dedup", ["StreamingDeduplicate"]),
    "q_stream_live_join": ("live_ssj", ["StreamingSymmetricHashJoin"]),
    "q_stream_live_static_join": ("live_static_join", ["BroadcastHashJoin"]),
    "q_stream_live_eviction": (
        "live_eviction", ["StateStoreRestore", "StateStoreSave"]),
}

# The batch manifest's anti-pattern classes: unbounded products and
# Python-boundary nodes have no place in ANY live stream's micro-batch
# plan (none of the 7 is a declared UDF query).
_LIVE_PLAN_FORBID = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "ArrowWindowPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def test_live_streaming_executed_plan_markers(spark, sf_dir, live_managers, monkeypatch):
    """Runs every q_stream_live_* query for real and audits the executed
    physical plan of its final micro-batch (captured by
    run_stream_to_memory before stop()): the expected state operator is
    present, no anti-pattern node class appears. Every run checkpoints
    through the FileSystem-based manager, and every query over the events
    fixture streams the one shared replay directory."""
    from quarkus_etl_spark.queries import all_query_callables
    from quarkus_etl_spark.queries.streaming_q import _replay_events
    from quarkus_etl_spark.streaming import streams

    sources: dict[str, set[str]] = {}
    stream_of = streams.file_stream

    def recording(spark, source_dir, *args, **kwargs):
        sources.setdefault(qname, set()).add(source_dir)
        return stream_of(spark, source_dir, *args, **kwargs)

    monkeypatch.setattr(streams, "file_stream", recording)
    qs = all_query_callables()
    assert set(_LIVE_PLAN_EXPECT) == {
        n for n in qs if n.startswith("q_stream_live_")
    }, "live-query inventory drifted: update _LIVE_PLAN_EXPECT deliberately"
    for qname, (sink, required) in sorted(_LIVE_PLAN_EXPECT.items()):
        qs[qname](spark, sf_dir).collect()
        plan = streams.LAST_EXECUTED_PLANS.get(sink, "")
        assert plan, f"{qname}: no executed plan captured for sink {sink}"
        for marker in required:
            assert marker in plan, f"{qname}: expected {marker} in executed plan"
        for marker in _LIVE_PLAN_FORBID:
            assert marker not in plan, f"{qname}: forbidden {marker} in plan"
    assert live_managers == {sink: FS_MANAGER for sink, _ in _LIVE_PLAN_EXPECT.values()}
    shared = {_replay_events(spark, sf_dir)}
    replayed = {q: dirs for q, dirs in sources.items() if q != "q_stream_live_eviction"}
    assert replayed == {q: shared for q in _LIVE_PLAN_EXPECT if q != "q_stream_live_eviction"}


def _replay_jobs(spark, build, group: str):
    """(rows, jobs launched on the calling thread) of one live build; the
    micro-batch jobs run in the stream's own job group, so what the
    caller's group counts is the events replay write."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(map(tuple, df.collect())), len(sc.statusTracker().getJobIdsForGroup(group))


def test_live_streams_replay_events_once(spark, sf_dir, tmp_path):
    """The events replay is written once per fixture identity: a second
    live build reuses it (no job on the caller's thread) and returns the
    same rows; a new events mtime or a deleted replay directory makes the
    next build write it again, each time with the jobs of one write."""
    import os
    import shutil

    from quarkus_etl_spark.queries.streaming_q import _replay_events, q_stream_live_dedup

    fixture = tmp_path / os.path.basename(sf_dir)
    fixture.mkdir()
    events = fixture / "events.parquet"
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events)

    def build():
        return q_stream_live_dedup(spark, str(fixture))

    load_table(spark, str(fixture), "events")  # its schema-read job is not the replay's
    first, write_jobs = _replay_jobs(spark, build, "replay-first")
    again, reuse_jobs = _replay_jobs(spark, build, "replay-again")
    assert write_jobs > 0 and reuse_jobs == 0
    assert first == again and len(first) > 0

    st = os.stat(events)
    os.utime(events, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched, touched_jobs = _replay_jobs(spark, build, "replay-touched")
    assert (touched, touched_jobs) == (first, write_jobs)

    shutil.rmtree(_replay_events(spark, str(fixture)))
    rebuilt, rebuilt_jobs = _replay_jobs(spark, build, "replay-deleted")
    assert (rebuilt, rebuilt_jobs) == (first, write_jobs)


def test_stream_join_epoch_floor_and_era_translation(spark, tmp_path):
    """Spark floors stream watermarks at epoch 0 (watermark state is
    non-negative ms), so PRE-1970 event times are late-by-construction in
    a watermarked stream-stream join — no delay can save them. Pinned
    empirically (r9 seed-31 fuzz find, the q_stream_live_join fix):

    - CONTROL: two same-instant 1900 rows under a 150000-day watermark
      join to NOTHING (proves the floor is real and this test has teeth);
    - FIX: translating both sides' event time by a constant era offset
      (+73000 days) lands them post-epoch and the pair joins; the
      interval condition is translation-invariant.
    """
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "epoch_floor")
    import os

    os.makedirs(path)
    rows = [(1, 7, dt.datetime(1900, 6, 15, 12, 0)),
            (2, 7, dt.datetime(1900, 6, 15, 12, 0))]
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "uid": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
        }),
        f"{path}/f0.parquet",
    )

    def run(shift_days: int, sink: str) -> list:
        s = spark.readStream.format("parquet").schema(
            "event_id long, uid long, ts timestamp"
        ).load(path)
        if shift_days:
            s = s.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL '{shift_days}' DAY"))
        a = s.where(F.col("event_id") == 1).withWatermark("ts", "150000 days").alias("a")
        b = s.where(F.col("event_id") == 2).withWatermark("ts", "150000 days").alias("b")
        j = a.join(
            b,
            (F.col("a.uid") == F.col("b.uid"))
            & (F.col("b.ts") <= F.col("a.ts"))
            & (F.col("b.ts") > F.col("a.ts") - F.expr("INTERVAL 1 hour")),
            "inner",
        ).select(F.col("a.event_id").alias("l"), F.col("b.event_id").alias("r"))
        q = j.writeStream.format("memory").queryName(sink).outputMode("append").start()
        q.processAllAvailable()
        q.stop()
        return [tuple(r) for r in spark.table(sink).collect()]

    assert run(0, "epoch_floor_ctl") == [], (
        "control broke: pre-epoch rows now survive a watermarked "
        "stream-stream join — Spark lifted the epoch floor; the era "
        "translation in q_stream_live_join may be removable"
    )
    assert run(73000, "epoch_floor_fix") == [(1, 2)]


def test_state_partitions_expected_keys_sizing(spark):
    """Stateful streams start under LOCAL_STATE_PARTITIONS (4) shuffle
    partitions and, for a checkpoint on the local `file:` file system,
    the FileSystem-based checkpoint manager; the session's own settings
    are restored on exit, an unset manager key unset again. A checkpoint
    root on any other scheme keeps Spark's default manager."""
    from quarkus_etl_spark.streaming.streams import (
        CHECKPOINT_MANAGER_KEY,
        FS_CHECKPOINT_MANAGER,
        LOCAL_STATE_PARTITIONS,
        checkpoint_is_local,
        state_partitions,
    )

    conf = spark.conf
    before = conf.get("spark.sql.shuffle.partitions")
    assert conf.get(CHECKPOINT_MANAGER_KEY, None) is None
    with state_partitions(spark):
        assert int(conf.get("spark.sql.shuffle.partitions")) == LOCAL_STATE_PARTITIONS == 4
        assert conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
    assert conf.get("spark.sql.shuffle.partitions") == before
    assert conf.get(CHECKPOINT_MANAGER_KEY, None) is None

    context_manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager"
    )
    conf.set(CHECKPOINT_MANAGER_KEY, context_manager)
    try:
        with state_partitions(spark):
            assert conf.get(CHECKPOINT_MANAGER_KEY) == FS_CHECKPOINT_MANAGER
        assert conf.get(CHECKPOINT_MANAGER_KEY) == context_manager
    finally:
        conf.unset(CHECKPOINT_MANAGER_KEY)

    local_fs = "file:///"
    assert checkpoint_is_local(None, local_fs)
    assert checkpoint_is_local("/tmp/cp", local_fs)
    assert checkpoint_is_local("file:///tmp/cp", local_fs)
    assert not checkpoint_is_local("hdfs://nn/cp", local_fs)
    assert not checkpoint_is_local("s3a://bucket/cp", local_fs)
    assert not checkpoint_is_local("/tmp/cp", "hdfs://nn:8020")
    assert not checkpoint_is_local(None, "hdfs://nn:8020")
    conf.set("spark.sql.streaming.checkpointLocation", "hdfs://nn/cp")
    try:
        with state_partitions(spark):
            assert conf.get(CHECKPOINT_MANAGER_KEY, None) is None
    finally:
        conf.unset("spark.sql.streaming.checkpointLocation")
