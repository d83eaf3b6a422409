"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The fast tests check the benchmark's pieces without Spark. The warm-up
test starts Spark once per workload (about two minutes each) and shows
where on the JIT and codegen warm-up curve the timed passes sit.
"""

from __future__ import annotations

import json
import random
import re
import statistics
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

from fingerprint import digest  # noqa: E402
from run import MIN_PASSES, WARM_UP, op_p50, tail  # noqa: E402
from workloads import WORKLOADS, addresses_sql  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_names_the_workloads_and_metrics():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())


def test_pinned_driver_memory_is_below_host_memory():
    cfg = json.loads((HERE / "config.json").read_text())
    assert cfg["env"]["SPARK_GRAFT_CPUS"] == "4"
    assert cfg["jdbc_partitions"] <= 4
    mem = cfg["env"]["SPARK_GRAFT_DRIVER_MEM"]
    gib = float(mem[:-1]) / (1024 if mem.endswith("m") else 1)
    meminfo = Path("/proc/meminfo").read_text()
    host_kib = int(re.search(r"MemTotal:\s+(\d+)", meminfo).group(1))
    assert gib * 2**20 < host_kib


def test_tail_is_the_90th_percentile_with_its_support():
    xs = [float(i) for i in range(1, 21)]
    random.Random(0).shuffle(xs)
    value, n, above = tail(xs)
    assert value == pytest.approx(18.1)
    assert (n, above) == (20, 2)


def test_op_p50_is_the_median_of_the_per_operation_medians():
    passes = [{"ops": ["a", "b", "c"], "op_s": [1.0, 2.0, 10.0]},
              {"ops": ["c", "a", "b"], "op_s": [12.0, 3.0, 2.5]}]
    assert op_p50(passes) == pytest.approx(2.25)


def test_digest_ignores_row_and_column_order_but_not_types():
    rows = [(1, "a", 2.5), (2, "b", None), (1, "a", 2.5)]
    moved = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert digest(["x", "Y", "z"], rows) == digest(["z", "x", "y"], moved)
    assert digest(["x"], [(1,)]) != digest(["x"], [(1.0,)])
    assert digest(["x"], [(1,), (1,)]) != digest(["x"], [(1,)])


def test_addresses_sql_matches_the_programs_generator_oracle():
    """The ETL check regenerates the Derby seed in DuckDB; at the
    program's own (n, seed) it must equal the program's oracle."""
    duckdb = pytest.importorskip("duckdb")
    from quarkus_etl_spark.queries import all_oracles

    oracle = all_oracles()["q_gen_addresses"]
    with duckdb.connect() as con:
        a = con.execute(addresses_sql(10_000, 42)).fetchall()
        b = con.execute(oracle).fetchall()
    assert digest(list("abcdef"), a) == digest(list("abcdef"), b)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_timed_passes_are_past_the_steep_part_of_the_warm_up(workload):
    """A 90 s run shows the warm-up curve. The cold pass is more than twice
    a timed pass, the warm-up pass takes the rest of the steep drop (what
    is left between it and the timed passes is under half of what the cold
    pass lost), and the curve is flat from the timed passes on: the long
    run's last passes are within 15% of the timed ones."""
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "90", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    detail, result = json.loads(out[-2]), json.loads(out[-1])
    assert result["correct"] and result["failed"] == 0
    curve = [p["seconds"] for p in detail["passes"]]
    assert len(curve) >= MIN_PASSES + 3, curve
    cold, warm_up = curve[0], curve[WARM_UP - 1]
    timed = statistics.median(curve[WARM_UP:MIN_PASSES])
    late = statistics.median(curve[-3:])
    print(f"{workload}: cold {cold:.2f} s, warm-up {warm_up:.2f} s, "
          f"timed {timed:.2f} s, last passes {late:.2f} s")
    assert cold > 2 * timed, curve
    assert warm_up - timed < 0.5 * (cold - warm_up), curve
    assert abs(late - timed) < 0.15 * timed, curve
