"""Spans and counters recorded from outside the program.

Every span is taken around a call into one of the program's public
functions: the benchmark replaces each module-level reference to the
function with a timing wrapper, so the program itself is unchanged.
Spans and counters stay in memory; `Tracer.dump` writes them out once,
at exit.

Spark counters come from the status tracker and status store, keyed by
the job group the benchmark sets around each phase of an operation.
Streaming counters come from a `StreamingQueryListener`.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, span name). A "Class.method" attribute patches the
# method on the class; a plain name is patched in every loaded module of
# the package that holds a reference to the same function object.
PROGRAM_SPANS = (
    ("quarkus_etl_spark.session", "get_spark", "session.get_spark"),
    ("quarkus_etl_spark.catalog", "load_table", "catalog.load_table"),
    ("quarkus_etl_spark.jobs", "JobRunner.extract", "jobs.extract"),
    ("quarkus_etl_spark.jobs", "JobRunner.run_job", "jobs.run_job"),
    ("quarkus_etl_spark.sources.readers", "read_jdbc", "sources.read_jdbc"),
    ("quarkus_etl_spark.sources.writers", "write_dataframe", "sources.write"),
)

SPARK_STAGE_FIELDS = (
    # (counter, StageData getter, scale to the counter's unit)
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.spill_bytes", "memoryBytesSpilled", 1),
    ("spark.spill_bytes", "diskBytesSpilled", 1),
)


class Tracer:
    """In-memory span and counter store.

    `enabled` is switched per pass, so one traced run can interleave
    traced and untraced passes and report the tracing overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent,
               "start": time.monotonic() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self._t0
            self.counters[name + "_s"] += rec["end"] - rec["start"]

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def take_counters(self) -> dict[str, float]:
        with self._lock:
            out, self.counters = dict(self.counters), defaultdict(float)
        return out

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def instrument_program(tracer: Tracer) -> None:
    """Wrap the program's public functions listed in PROGRAM_SPANS."""
    import importlib

    for mod_name, attr, span in PROGRAM_SPANS:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, tracer.wrap(getattr(cls, meth), span))
            continue
        original = getattr(mod, attr)
        wrapped = tracer.wrap(original, span)
        for other in list(sys.modules.values()):
            name = getattr(other, "__name__", "") or ""
            if not name.startswith("quarkus_etl_spark"):
                continue
            for key, value in list(vars(other).items()):
                if value is original:
                    setattr(other, key, wrapped)


def instrument_stream_start(tracer: Tracer, started: list) -> None:
    """Time `DataStreamWriter.start` (pyspark) and remember each query's
    run id, whose job group carries its micro-batch jobs."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    original = DataStreamWriter.start

    @functools.wraps(original)
    def start(self, *args, **kwargs):
        with tracer.span("streaming.start"):
            q = original(self, *args, **kwargs)
        if tracer.enabled:
            started.append(str(q.runId))
        return q

    DataStreamWriter.start = start


class SparkCounters:
    """Per-job-group Spark counters read from the status tracker/store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)

    def collect(self, group: str, tracer: Tracer) -> float:
        """Add the group's job/stage/task counters to `tracer`; returns
        the group's executor run time in seconds."""
        run_s = 0.0
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            tracer.add("spark.jobs", 1)
            for stage_id in info.stageIds:
                attempts = self.store.stageData(
                    stage_id, False, self.jvm.java.util.ArrayList(), False,
                    self._no_quantiles,
                )
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    tracer.add("spark.stages", 1)
                    tracer.add("spark.tasks", sd.numCompleteTasks())
                    for counter, getter, scale in SPARK_STAGE_FIELDS:
                        v = getattr(sd, getter)() * scale
                        tracer.add(counter, v)
                        if counter == "spark.executor_run_s":
                            run_s += v
        return run_s

    def persisted_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())

    def heap_used_mb(self) -> float:
        rt = self.jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20


def make_stream_listener(spark, tracer: Tracer, traced_runs: list) -> None:
    """Register a StreamingQueryListener that adds each progress event of
    a traced query (by run id) to the tracer's streaming counters."""
    from pyspark.sql.streaming import StreamingQueryListener

    phases = (
        ("streaming.query_planning_ms", "queryPlanning"),
        ("streaming.get_batch_ms", "getBatch"),
        ("streaming.add_batch_ms", "addBatch"),
        ("streaming.wal_commit_ms", "walCommit"),
        ("streaming.commit_offsets_ms", "commitOffsets"),
    )

    state: dict[str, tuple[int, int]] = {}

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if str(p.runId) not in traced_runs:
                return
            # State size is a level, not a flow: keep each query's latest
            # value, so the counter sums the final state of every query.
            rows = sum(op.numRowsTotal for op in p.stateOperators)
            mem = sum(op.memoryUsedBytes for op in p.stateOperators)
            old_rows, old_mem = state.get(str(p.runId), (0, 0))
            state[str(p.runId)] = (rows, mem)
            with tracer._lock:
                c = tracer.counters
                c["streaming.batches"] += 1
                for counter, key in phases:
                    c[counter] += p.durationMs.get(key, 0)
                c["streaming.state_rows"] += rows - old_rows
                c["streaming.state_mem_bytes"] += mem - old_mem

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Listener())
