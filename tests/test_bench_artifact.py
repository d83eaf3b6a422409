"""Pins for bench.py's self-normalizing vs_prev section (VERDICT r7 #4)
and the shared artifact code in tools/harness.py.

Sessionless: exercises the artifact-comparison arithmetic and the
tail-only-record salvage without starting Spark or running the bench.
"""

import json
import os
import sys

import pytest

import bench
from tools import bench_compare, harness

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_vs_prev_self_compare_is_identity(tmp_path, monkeypatch):
    prev = {
        "queries": {"q_a": 1.0, "q_b": 2.0, "q_err": -1.0},
        "calib3_sec": 0.15,
    }
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    sec = bench._vs_prev_section({"q_a": 1.0, "q_b": 2.0}, 0.15)
    assert sec["normalized_vs_prev"] == 1.0
    assert sec["raw_ratio_vs_prev"] == 1.0
    assert sec["flagged_regressions"] == []
    # errored (-1) prev entries are excluded from the shared set
    assert sec["shared_queries"] == 2


def test_vs_prev_host_drift_cancels(tmp_path, monkeypatch):
    """2x wall on every query at 2x calib = pure host drift: normalized 1.0,
    nothing flagged (the exact ambiguity VERDICT r7 'what's wrong #1' hit)."""
    prev = {"queries": {"q_a": 1.0, "q_b": 4.0}, "calib3_sec": 0.10}
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    sec = bench._vs_prev_section({"q_a": 2.0, "q_b": 8.0}, 0.20)
    assert sec["host_ratio_vs_prev"] == 2.0
    assert sec["calib_probe_used"] == "v3"
    assert sec["raw_ratio_vs_prev"] == 2.0
    assert sec["normalized_vs_prev"] == 1.0
    assert sec["flagged_regressions"] == []


def test_vs_prev_flags_real_regression_at_compare_bar(tmp_path, monkeypatch):
    """>=1.4x AND >=0.5 s host-normalized — the tools/bench_compare.py bar."""
    prev = {"queries": {"q_slow": 1.0, "q_small": 0.1, "q_ok": 3.0}, "calib3_sec": 0.1}
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    # q_slow 1.0 -> 2.0 (2x, +1s: flagged); q_small 0.1 -> 0.3 (3x but only
    # +0.2s: below the absolute floor); q_ok unchanged
    sec = bench._vs_prev_section({"q_slow": 2.0, "q_small": 0.3, "q_ok": 3.0}, 0.1)
    assert sec["flagged_regressions"] == ["q_slow"]


def test_vs_prev_cc_noise_family_annotated_not_flagged(tmp_path, monkeypatch, capsys):
    """VERDICT r10 #3: an over-the-bar entry from the frozen CC-noise
    family that stays INSIDE its reviewed same-code spread bound is
    recorded under expected_variance (with the bound), not as a flagged
    regression; a breach of the bound stays a real flag, and non-family
    queries are untouched by the list."""
    prev = {
        "queries": {"q_dedup_incremental": 2.0, "q_graph_label_prop": 2.0,
                    "q_dedup_cluster": 2.0, "q_slow": 1.0},
        "calib3_sec": 0.1,
    }
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    # incremental 2.0 -> 4.2 (2.1x: inside the 2.4 bound -> annotated);
    # label_prop 2.0 -> 4.0 (2.0x: BREACHES the 1.8 bound -> real flag);
    # q_dedup_cluster 2.0 -> 3.2 (1.6x: left the family -> real flag);
    # q_slow 1.0 -> 2.2 (2.2x, not in the family -> real flag, ranks first)
    new = {"q_dedup_incremental": 4.2, "q_graph_label_prop": 4.0,
           "q_dedup_cluster": 3.2, "q_slow": 2.2}
    sec = bench._vs_prev_section(new, 0.1)
    assert sec["flagged_regressions"] == [
        "q_slow", "q_graph_label_prop", "q_dedup_cluster"
    ]
    assert sec["expected_variance"] == [
        {"query": "q_dedup_incremental", "normalized_ratio": 2.1,
         "expected_bound": 2.4}
    ]
    # bench_compare prints the same split over the same pair of artifacts
    q = tmp_path / "new.json"
    q.write_text(json.dumps({"queries": new, "calib3_sec": 0.1}))
    monkeypatch.setattr(sys, "argv", ["bench_compare", str(p), str(q)])
    with pytest.raises(SystemExit) as exc:
        bench_compare.main()
    assert exc.value.code == 1
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split()[1] for ln in lines if ln.startswith("REGRESSION")] == (
        sec["flagged_regressions"]
    )
    assert [ln.split()[1] for ln in lines if ln.startswith("expected-var")] == [
        "q_dedup_incremental"
    ]
    # every frozen name is a registered bench query name (no typos rotting)
    assert set(harness.CC_NOISE_EXPECTED_SPREAD) == {
        "q_graph_label_prop",
        # r11 addition: measured 2.19x same-session spread (bound 2.4)
        "q_dedup_incremental",
    }


def test_load_prev_salvages_driver_tail_record(tmp_path):
    """Driver BENCH records keep only the tail of the JSON line; the loader
    must salvage '"q_*": secs' pairs and the calib3 from the raw tail text."""
    tail = (
        '0.91, "q_topk": 0.35, "q_agg_global": 0.22, "calib_sec": 0.175, '
        '"calib3_sec": 0.7496, "total_sec": 158.4}'
    )
    p = tmp_path / "tail.json"
    p.write_text(json.dumps({"parsed": None, "tail": tail}))
    assert harness.load_artifact(str(p)) == (
        {"q_topk": 0.35, "q_agg_global": 0.22}, 0.7496
    )
    # a pre-r10 tail carries no calib3
    p.write_text(json.dumps({"parsed": None, "tail": tail.replace("calib3", "x")}))
    assert harness.load_artifact(str(p))[1] is None


def test_load_prev_missing_or_corrupt_is_none(tmp_path):
    assert harness.load_artifact(str(tmp_path / "nope.json")) is None
    p = tmp_path / "bad.json"
    p.write_text("{not json")
    assert harness.load_artifact(str(p)) is None


def test_committed_artifact_round_trips_through_vs_prev(monkeypatch):
    """The committed bench_out.json must always be loadable as a prev
    artifact (the default comparison source for the next round's run), and
    compare against itself through its calib3 probe."""
    loaded = harness.load_artifact(os.path.join(REPO, "bench_out.json"))
    assert loaded is not None
    qs, calib3 = loaded
    assert len(qs) >= 240 and calib3 == 0.8684
    monkeypatch.delenv("SPARK_GRAFT_BENCH_PREV", raising=False)
    sec = bench._vs_prev_section(dict(qs), calib3)
    assert sec["normalized_vs_prev"] == 1.0 and sec["flagged_regressions"] == []
    assert sec["calib_probe_used"] == "v3"


def test_vs_prev_pre_r10_artifact_normalizes_at_host_one(tmp_path, monkeypatch):
    """Only the calib3 probe normalizes. A pre-r10 artifact (v1 calib_sec /
    v2 calib2_sec only, BENCH_r01-r09) compares at host 1.0 with no probe
    named, whatever its legacy probes say; so does a new side without
    calib3."""
    prev = {"queries": {"q_a": 1.0}, "calib_sec": 0.10, "calib2_sec": 0.70}
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    sec = bench._vs_prev_section({"q_a": 2.0}, 0.60)
    assert sec["calib_probe_used"] is None
    assert sec["host_ratio_vs_prev"] == 1.0
    assert sec["normalized_vs_prev"] == 2.0
    assert "prev_calib_sec" not in sec and "prev_calib2_sec" not in sec
    p.write_text(json.dumps({"queries": {"q_a": 1.0}, "calib3_sec": 0.60}))
    sec = bench._vs_prev_section({"q_a": 2.0}, None)
    assert sec["calib_probe_used"] is None and sec["normalized_vs_prev"] == 2.0


def test_bench_compare_agrees_with_vs_prev_on_committed_pair(monkeypatch, capsys):
    """bench_compare and bench.py's vs_prev read the same artifacts the same
    way: on BENCH_r12.json -> bench_out.json both normalize by calib3 and
    report the same ratio, regressions and expected-variance entries."""
    old = os.path.join(REPO, "BENCH_r12.json")
    new = os.path.join(REPO, "bench_out.json")
    qs, calib3 = harness.load_artifact(new)
    sec = bench._vs_prev_section(
        qs, calib3, prev=harness.load_artifact(old), path=old
    )
    assert sec["calib_probe_used"] == "v3"
    assert sec["normalized_vs_prev"] == 1.0961
    # q_dedup_soft, an expected-variance entry while the CC queries were in
    # the noise family, is an ordinary regression flag on this pair now
    assert sec["flagged_regressions"] == [
        "q_dedup_cluster", "q_gen_pysource", "q_dedup_soft"
    ]
    assert sec["expected_variance"] == []

    monkeypatch.setattr(sys, "argv", ["bench_compare", old, new])
    with pytest.raises(SystemExit) as exc:
        bench_compare.main()
    assert exc.value.code == 1
    lines = capsys.readouterr().out.splitlines()
    assert any("1.0961x host-normalized" in line for line in lines)

    def tagged(tag):
        return [line.split()[1] for line in lines if line.startswith(tag)]

    assert tagged("REGRESSION") == sec["flagged_regressions"]
    assert tagged("expected-var") == [e["query"] for e in sec["expected_variance"]]


def test_load_prev_empty_file_warns_and_returns_none(tmp_path, capsys):
    """`python bench.py > bench_out.json` truncates the prev artifact at
    shell-open time; an empty prev must degrade loudly, not silently
    (ADVICE r8)."""
    p = tmp_path / "empty.json"
    p.write_text("")
    assert harness.load_artifact(str(p)) is None
    err = capsys.readouterr().err
    assert "EMPTY" in err and "SPARK_GRAFT_BENCH_PREV" not in err  # neutral
    # bench.py, whose redirect workflow causes it, adds the remedy
    assert bench._load_prev(str(p)) is None
    assert "SPARK_GRAFT_BENCH_PREV" in capsys.readouterr().err


def test_vs_prev_uses_startup_snapshot_not_lazy_read(tmp_path):
    """main() snapshots the prev artifact before the bench runs; the
    section must honor a passed snapshot even if the file has since been
    truncated (the redirect workflow)."""
    p = tmp_path / "prev.json"
    p.write_text(json.dumps({"queries": {"q_a": 1.0}, "calib3_sec": 0.1}))
    snap = harness.load_artifact(str(p))
    p.write_text("")  # the shell redirect's truncation
    sec = bench._vs_prev_section({"q_a": 1.0}, 0.1, prev=snap, path=str(p))
    assert sec["normalized_vs_prev"] == 1.0


def test_oracle_ratio_section_shared_total(tmp_path, monkeypatch):
    """VERDICT r8 #1: the ratio is computed over the SHARED positive-timed
    queries only (rows-only Spark queries and errored oracle entries are
    excluded)."""
    ob = {
        "engine": "duckdb x",
        "dataset": "sf0.1",
        "queries": {"q_a": 1.0, "q_b": 3.0, "q_err": -1.0, "q_only_oracle": 2.0},
    }
    p = tmp_path / "oracle_bench.json"
    p.write_text(json.dumps(ob))
    monkeypatch.setattr(bench, "ORACLE_BENCH_PATH", str(p))
    sec = bench._oracle_ratio_section({"q_a": 2.0, "q_b": 6.0, "q_rows_only": 1.0})
    assert sec["shared_queries"] == 2
    assert sec["oracle_total_sec"] == 4.0
    assert sec["spark_shared_total_sec"] == 8.0
    assert sec["spark_vs_oracle_ratio"] == 2.0


def test_oracle_ratio_section_missing_artifact(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "ORACLE_BENCH_PATH", str(tmp_path / "nope.json"))
    assert bench._oracle_ratio_section({"q_a": 1.0}) == {"oracle_artifact": None}


def test_time_oracles_budget_floor_and_recovery():
    """The oracle-bench watchdog (VERDICT r8 #1 machinery): a query that
    blows the per-query budget is interrupted, recorded AT the budget as a
    floor, and listed in timed_out; the connection stays usable for the
    NEXT oracle; a genuine SQL error records -1; a fast query records its
    real time."""
    import duckdb

    con = duckdb.connect()
    oracles = {
        # alphabetical run order: error -> fast -> slow -> fast again
        "q_a_error": "SELECT * FROM this_table_does_not_exist",
        "q_b_fast": "SELECT 42 AS x",
        # unbounded-enough: a 3-way cross join DuckDB cannot finish in 0.3 s
        "q_c_slow": (
            "SELECT count(*) AS c FROM range(100000) a, range(100000) b,"
            " range(100)"
        ),
        "q_d_after": "SELECT 7 AS y",
    }
    timings, timed_out = bench._time_oracles(
        con, oracles, n_runs=2, budget=0.3, repeat_guard=0.2
    )
    assert timings["q_a_error"] == -1.0
    assert 0 < timings["q_b_fast"] < 0.3
    assert timings["q_c_slow"] == 0.3 and timed_out == ["q_c_slow"]
    # the pending-interrupt absorb: the query AFTER the floored one must
    # still measure normally
    assert 0 < timings["q_d_after"] < 0.3


def test_oracle_ratio_section_dataset_mismatch(tmp_path, monkeypatch):
    """A bench run at a different SF than the committed oracle artifact
    must yield a mismatch marker, never a cross-scale ratio."""
    p = tmp_path / "oracle_bench.json"
    p.write_text(json.dumps({"dataset": "sf0.1", "queries": {"q_a": 1.0}}))
    monkeypatch.setattr(bench, "ORACLE_BENCH_PATH", str(p))
    sec = bench._oracle_ratio_section({"q_a": 2.0}, dataset="sf0.001")
    assert sec == {
        "oracle_artifact": "oracle_bench.json",
        "oracle_dataset": "sf0.1",
        "dataset_mismatch": "sf0.001",
    }
    # matching dataset still produces the ratio
    sec = bench._oracle_ratio_section({"q_a": 2.0}, dataset="sf0.1")
    assert sec["spark_vs_oracle_ratio"] == 2.0


def test_write_bench_out_writes_full_artifact(tmp_path, monkeypatch):
    """VERDICT r11 #7: with SPARK_GRAFT_BENCH_OUT set, the full artifact
    lands in the file (round-trippable, schema intact); unset is a no-op."""
    result = {
        "metric": "full_inventory_wall_sec",
        "value": 1.23,
        "unit": "sec",
        "queries": {"q_a": 1.0, "q_b": 0.23},
        "total_sec": 1.23,
    }
    out = tmp_path / "bench_full.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(out))
    bench._write_bench_out(result)
    assert json.loads(out.read_text()) == result
    # the written file itself parses as a prev artifact (per-query baseline
    # survives any stdout truncation)
    loaded = harness.load_artifact(str(out))
    assert loaded is not None and loaded[0] == result["queries"]


def test_write_bench_out_noop_without_env(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_OUT", raising=False)
    bench._write_bench_out({"queries": {}})  # must not raise or write
    assert list(tmp_path.iterdir()) == []


def test_write_bench_out_unwritable_path_warns_not_raises(tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(tmp_path / "no_dir" / "x.json"))
    bench._write_bench_out({"queries": {}})
    assert "could not write" in capsys.readouterr().err


def test_ab12_rejects_unknown_query_before_starting_spark(monkeypatch, capsys):
    """A misspelt query name fails at argument parsing, naming the query,
    before any Spark session starts (the warm-up used to swallow the
    KeyError, and the timed loop died on it after the whole warm-up)."""
    import quarkus_etl_spark.session as session
    from tools import ab12

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started before the names were checked")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(
        sys, "argv", ["ab12", "K=V", "q_sim_ann_lsh", "q_no_such_query"]
    )
    with pytest.raises(SystemExit) as exc:
        ab12.main()
    assert exc.value.code == 2
    assert "q_no_such_query" in capsys.readouterr().err
    # a plain token (no env assignment) is rejected the same way
    monkeypatch.setattr(sys, "argv", ["ab12", "K=V,g", "q_sim_ann_lsh"])
    with pytest.raises(SystemExit) as exc:
        ab12.main()
    assert exc.value.code == 2
    assert "not K=V env assignments: g" in capsys.readouterr().err
