"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One process starts one Spark
session on local[4], prepares the workload three times (the median
counts), then runs passes over the workload's operations: a cold pass, a
warm-up pass, then timed warm passes. After every pass, outside all
timing, each operation's output is checked against its expected
fingerprint, and the rows it delivered are counted.

With --trace 0 the last stdout line carries the end-to-end metrics. With
--trace 1 the timed passes alternate traced and untraced, and the last
line carries the per-layer metrics (medians over traced passes) and the
tracing overhead. Spans are kept in memory and written to
perfbench/.work/spans-<workload>-<seed>.jsonl at exit. The line before
the last is a detail record: the pinned environment, set-up samples,
every pass with its per-operation latencies and the share of CPU time
the hypervisor stole during it, and any errors.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from tracing import (  # noqa: E402
    SparkCounters, Tracer, instrument_program, instrument_stream_start,
    make_stream_listener,
)
from workloads import WORKLOADS, Probe, make_workload  # noqa: E402

# A run is a cold pass, a warm-up pass and at least five timed warm
# passes, and lasts at least --seconds. The driver JVM compiles with C1
# only (config.json), so its code is compiled within the first two passes
# and the timed passes sit on a flat curve (test_perfbench). With the
# default tiered C2 the curve kept falling for a minute or more, and each
# run's timed passes landed at another point of it. The pass count, not
# the window, bounds a run:
# BENCHMARK.json's run_seconds is below the time MIN_PASSES passes take.
MIN_PASSES = 7
WARM_UP = 2  # passes[:WARM_UP] are not timed as warm passes
SETUP_REPEATS = 3  # prepares per run; setup_s takes their median


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    ticks = os.sysconf("SC_CLK_TCK")
    start = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start / ticks


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat:
    steal is time the hypervisor ran something else on this VM's CPUs."""
    fields = [int(x) for x in
              Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb(jvm_pid: int) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def tail(samples: list[float]) -> tuple[float, int, int]:
    """The 90th percentile of the warm operation latencies, with the
    sample count and the number of samples above it.

    A run has about 25 warm samples, too few for a high percentile with
    ten samples above it; a rule that picks the percentile from the sample
    count would jump between operations as the count changes, so the
    percentile is fixed and its support is reported instead."""
    value = statistics.quantiles(samples, n=10, method="inclusive")[8]
    return value, len(samples), sum(x > value for x in samples)


def op_p50(passes: list[dict]) -> float:
    """The median over operations of each operation's median latency.

    The operations of a workload differ in latency by up to 20 times, so
    the median of the pooled samples sits wherever two operations' samples
    interleave and jumps between them from run to run; each operation's
    median first is steadier (WORKLOADS.md, "End-to-end metrics")."""
    per_op: dict[str, list[float]] = {}
    for r in passes:
        for op, s in zip(r["ops"], r["op_s"]):
            per_op.setdefault(op, []).append(s)
    return statistics.median(statistics.median(v) for v in per_op.values())


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


class Run:
    def __init__(self, args, cfg: dict, work: Path, bench: dict) -> None:
        self.args = args
        self.cfg = cfg
        self.work = work
        self.bench = bench
        self.tracer = Tracer()
        self.base = None
        self.stream_runs: list[str] = []
        self.passes: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def set_up(self) -> None:
        args, cfg, tracer = self.args, self.cfg, self.tracer
        if args.trace:
            instrument_program(tracer)
            instrument_stream_start(tracer, self.stream_runs)
        from quarkus_etl_spark.queries import all_query_callables
        from quarkus_etl_spark.session import get_spark

        all_query_callables()  # import the registry before the session
        tracer.enabled = bool(args.trace)
        self.base = get_spark(app_name=f"perfbench-{args.workload}",
                              extra_conf=cfg["spark_conf"])
        self.base.sparkContext.setLogLevel("ERROR")
        self.session_s = process_age_s()
        self.get_spark_s = tracer.take_counters().get("session.get_spark_s", 0.0)
        self.wl = make_workload(args.workload, str(HERE / cfg["fixtures"]),
                                self.work, cfg, args.seed)
        self.prepare_s, self.load_table_s = [], []
        for _ in range(SETUP_REPEATS):
            self.spark = self.base.newSession()
            t0 = time.monotonic()
            self.wl.prepare(self.spark)
            self.prepare_s.append(time.monotonic() - t0)
            self.load_table_s.append(
                tracer.take_counters().get("catalog.load_table_s", 0.0))
        tracer.enabled = False
        self.probe = Probe(tracer, SparkCounters(self.spark),
                           int(cfg["env"]["SPARK_GRAFT_CPUS"]), self.stream_runs)
        if args.trace:
            make_stream_listener(self.spark, tracer, self.stream_runs)

    def run_pass(self, p: int, order: list[str]) -> None:
        tracer, spark = self.tracer, self.spark
        tracer.enabled = bool(self.args.trace) and p >= WARM_UP and (
            (p - WARM_UP) % 2 == 0)
        lat, handles = [], {}
        steal0, total0 = cpu_jiffies()
        t_pass = time.monotonic()
        self.wl.begin_pass(spark)
        for i, op in enumerate(order):
            self.attempted += 1
            t0 = time.monotonic()
            try:
                handles[op] = self.wl.run_op(
                    spark, op, f"perfbench-{p}-{i}", self.probe)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                self.failed += 1
                self.errors.append(f"pass {p} {op}: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
            lat.append(time.monotonic() - t0)
        steal1, total1 = cpu_jiffies()
        rec = {"seconds": time.monotonic() - t_pass, "traced": tracer.enabled,
               "ops": list(order), "op_s": lat,
               "steal": (steal1 - steal0) / max(total1 - total0, 1)}
        if tracer.enabled:
            # Listener callbacks arrive on the listener bus; drain it so
            # this pass's streaming progress is counted in this pass.
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            rec["layers"] = tracer.take_counters()
            rec["layers"]["spark.persisted_rdds"] = self.probe.counters.persisted_rdds()
            rec["layers"]["jvm.heap_used_mb"] = self.probe.counters.heap_used_mb()
        tracer.enabled = False
        rec["rows"] = self.check(p, handles)
        self.passes.append(rec)

    def check(self, p: int, handles: dict) -> int:
        """Check every output of pass p, outside all timing; returns the
        rows the pass delivered. A mismatch counts as a failed operation
        (one whose run raised is already counted and has no output)."""
        self.spark.sparkContext.setJobGroup("perfbench-check", "output check")
        delivered = 0
        for op, handle in handles.items():
            try:
                rows, problem = self.wl.check(self.spark, op, handle)
                delivered += rows
            except Exception as e:  # noqa: BLE001 - a failed check is counted
                problem = f"{op}: check raised {type(e).__name__}: {e}"
            if problem:
                self.failed += 1
                self.errors.append(f"pass {p} {problem}")
        return delivered

    def measure(self) -> None:
        rng = random.Random(self.args.seed)
        order = list(self.wl.ops)
        window = time.monotonic()
        while len(self.passes) < MIN_PASSES or (
            time.monotonic() - window < self.args.seconds
        ):
            rng.shuffle(order)
            self.run_pass(len(self.passes), order)

    def report(self) -> tuple[dict, dict]:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = peak_rss_mb(jvm_pid)
        warm = [r for r in self.passes[WARM_UP:] if not r["traced"]]
        warm_ops = [x for r in warm for x in r["op_s"]]
        tail_s, tail_n, tail_above = tail(warm_ops)
        cfg = self.cfg
        detail = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace,
            "env": {k: os.environ[k] for k in cfg["env"]},
            "jdbc_partitions": cfg["jdbc_partitions"],
            "jdbc_max_connections": cfg["jdbc_partitions"],
            "spark_conf": cfg["spark_conf"],
            "setup": {"session_s": self.session_s, "prepare_s": self.prepare_s},
            "passes": [{k: v for k, v in r.items() if k != "layers"}
                       for r in self.passes],
            "op_tail": {"percentile": 90, "n": tail_n, "above": tail_above},
            "errors": self.errors,
        }
        if self.args.trace:
            traced = [r for r in self.passes if r["traced"]]
            detail["per_pass_layers"] = [r["layers"] for r in traced]
            values = {
                "session.get_spark_s": self.get_spark_s,
                "catalog.load_table_s": statistics.median(self.load_table_s),
                "trace.overhead_s": (
                    statistics.median(r["seconds"] for r in traced)
                    - statistics.median(r["seconds"] for r in warm)),
                "spark.persisted_rdds": traced[-1]["layers"]["spark.persisted_rdds"],
                "jvm.heap_used_mb": traced[-1]["layers"]["jvm.heap_used_mb"],
            }
            wanted = self.bench["per_layer"]
            for m in wanted:
                values.setdefault(m["name"], statistics.median(
                    r["layers"].get(m["name"], 0.0) for r in traced))
        else:
            warm_s = sum(r["seconds"] for r in warm)
            values = {
                "setup_s": self.session_s + statistics.median(self.prepare_s),
                "first_pass_s": self.passes[0]["seconds"],
                "pass_s": statistics.median(r["seconds"] for r in warm),
                "op_p50_s": op_p50(warm),
                "op_tail_s": tail_s,
                "rows_per_s": sum(r["rows"] for r in warm) / warm_s,
                "ok_ratio": 1.0 - self.failed / self.attempted,
                "peak_rss_mb": rss,
            }
            wanted = self.bench["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in wanted}
        result = {"correct": self.failed == 0, "attempted": self.attempted,
                  "failed": self.failed, "metrics": metrics}
        return detail, result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    bench_file = ROOT / "BENCHMARK.json"
    if not (ROOT / "quarkus_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no program source under {ROOT}", file=sys.stderr)
        return 2
    if not bench_file.is_file():
        print(f"perfbench: {bench_file} is missing", file=sys.stderr)
        return 2
    bench = json.loads(bench_file.read_text())
    cfg = json.loads((HERE / "config.json").read_text())
    work = HERE / ".work" / f"run-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    os.environ.update(cfg["env"])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    time.tzset()
    sys.path.insert(0, str(ROOT))
    os.chdir(work)  # spark-warehouse, derby.log and the like land here
    run = Run(args, cfg, work, bench)
    try:
        try:
            run.set_up()
            run.measure()
            detail, result = run.report()
        finally:
            if run.base is not None:
                stop_spark(run.base)
        if args.trace:
            run.tracer.dump(str(HERE / ".work" / f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
