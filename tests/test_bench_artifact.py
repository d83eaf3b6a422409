"""Pins for bench.py's self-normalizing vs_prev section (VERDICT r7 #4).

Sessionless: exercises the artifact-comparison arithmetic and the
tail-only-record salvage without starting Spark or running the bench.
"""

import json
import os

import bench


def test_vs_prev_self_compare_is_identity(tmp_path, monkeypatch):
    prev = {
        "queries": {"q_a": 1.0, "q_b": 2.0, "q_err": -1.0},
        "calib_sec": 0.15,
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
    prev = {"queries": {"q_a": 1.0, "q_b": 4.0}, "calib_sec": 0.10}
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    sec = bench._vs_prev_section({"q_a": 2.0, "q_b": 8.0}, 0.20)
    assert sec["host_ratio_vs_prev"] == 2.0
    assert sec["raw_ratio_vs_prev"] == 2.0
    assert sec["normalized_vs_prev"] == 1.0
    assert sec["flagged_regressions"] == []


def test_vs_prev_flags_real_regression_at_compare_bar(tmp_path, monkeypatch):
    """>=1.4x AND >=0.5 s host-normalized — the tools/bench_compare.py bar."""
    prev = {"queries": {"q_slow": 1.0, "q_small": 0.1, "q_ok": 3.0}, "calib_sec": 0.1}
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    # q_slow 1.0 -> 2.0 (2x, +1s: flagged); q_small 0.1 -> 0.3 (3x but only
    # +0.2s: below the absolute floor); q_ok unchanged
    sec = bench._vs_prev_section({"q_slow": 2.0, "q_small": 0.3, "q_ok": 3.0}, 0.1)
    assert sec["flagged_regressions"] == ["q_slow"]


def test_vs_prev_cc_noise_family_annotated_not_flagged(tmp_path, monkeypatch):
    """VERDICT r10 #3: an over-the-bar entry from the frozen CC-noise
    family that stays INSIDE its reviewed same-code spread bound is
    recorded under expected_variance (with the bound), not as a flagged
    regression; a breach of the bound stays a real flag, and non-family
    queries are untouched by the list."""
    prev = {
        "queries": {"q_dedup_cluster": 2.0, "q_graph_label_prop": 2.0,
                    "q_slow": 1.0},
        "calib_sec": 0.1,
    }
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    # cluster 2.0 -> 3.2 (1.6x: inside the 1.8 bound -> annotated);
    # label_prop 2.0 -> 4.0 (2.0x: BREACHES the bound -> real flag);
    # q_slow 1.0 -> 2.1 (2.1x, not in the family -> real flag, ranks first)
    sec = bench._vs_prev_section(
        {"q_dedup_cluster": 3.2, "q_graph_label_prop": 4.0, "q_slow": 2.1}, 0.1
    )
    assert sec["flagged_regressions"] == ["q_slow", "q_graph_label_prop"]
    assert sec["expected_variance"] == [
        {"query": "q_dedup_cluster", "normalized_ratio": 1.6,
         "expected_bound": 1.8}
    ]
    # every frozen name is a registered bench query name (no typos rotting)
    assert set(bench.CC_NOISE_EXPECTED_SPREAD) == {
        "q_dedup_cluster", "q_dedup_soft", "q_dedup_canonical",
        "q_dedup_canonical_best", "q_graph_label_prop",
        # r11 addition: measured 2.19x same-session spread (bound 2.4)
        "q_dedup_incremental",
    }


def test_load_prev_salvages_driver_tail_record(tmp_path):
    """Driver BENCH records keep only the tail of the JSON line; the loader
    must salvage '"q_*": secs' pairs and the calib from the raw tail text."""
    tail = '0.91, "q_topk": 0.35, "q_agg_global": 0.22, "calib_sec": 0.175, "total_sec": 158.4}'
    p = tmp_path / "tail.json"
    p.write_text(json.dumps({"parsed": None, "tail": tail}))
    loaded = bench._load_prev_artifact(str(p))
    assert loaded is not None
    qs, calib, calib2, calib3 = loaded
    assert qs == {"q_topk": 0.35, "q_agg_global": 0.22}
    assert calib == 0.175
    assert calib2 is None and calib3 is None  # pre-v2/v3 artifact


def test_load_prev_missing_or_corrupt_is_none(tmp_path):
    assert bench._load_prev_artifact(str(tmp_path / "nope.json")) is None
    p = tmp_path / "bad.json"
    p.write_text("{not json")
    assert bench._load_prev_artifact(str(p)) is None


def test_committed_artifact_round_trips_through_vs_prev(monkeypatch):
    """The committed bench_out.json must always be loadable as a prev
    artifact (the default comparison source for the next round's run)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "bench_out.json")
    loaded = bench._load_prev_artifact(path)
    assert loaded is not None
    qs, calib, calib2, calib3 = loaded
    assert len(qs) >= 240 and calib and calib > 0
    monkeypatch.delenv("SPARK_GRAFT_BENCH_PREV", raising=False)
    sec = bench._vs_prev_section(dict(qs), calib, calib2, calib3)
    assert sec["normalized_vs_prev"] == 1.0 and sec["flagged_regressions"] == []


def test_vs_prev_prefers_low_variance_v2_probe(tmp_path, monkeypatch):
    """When BOTH artifacts carry the v2 probe, normalization uses it (the
    v1 min-of-3 probe measured 0.197 vs 0.141 across same-code runs with
    flat query totals — probe plans differ, so v1/v2 values never mix)."""
    prev = {"queries": {"q_a": 1.0}, "calib_sec": 0.10, "calib2_sec": 0.70}
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    # v1 says host 2x slower; v2 says unchanged — v2 must win
    sec = bench._vs_prev_section({"q_a": 1.0}, 0.20, 0.70)
    assert sec["calib_probe_used"] == "v2"
    assert sec["host_ratio_vs_prev"] == 1.0
    assert sec["normalized_vs_prev"] == 1.0
    # v2 missing on one side: falls back to v1
    sec = bench._vs_prev_section({"q_a": 1.0}, 0.20, None)
    assert sec["calib_probe_used"] == "v1"
    assert sec["host_ratio_vs_prev"] == 2.0


def test_vs_prev_prefers_in_window_v3_probe(tmp_path, monkeypatch):
    """When BOTH artifacts carry the v3 (interleaved, in-window) probe,
    normalization uses it over v2 (r10: edge-sampled v2 medians moved 25%
    across same-code runs whose per-query medians were flat at 1.00);
    pre-v3 snapshots (3-tuples) must still load and fall back to v2."""
    prev = {
        "queries": {"q_a": 1.0},
        "calib_sec": 0.10, "calib2_sec": 0.70, "calib3_sec": 0.60,
    }
    p = tmp_path / "prev.json"
    p.write_text(json.dumps(prev))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PREV", str(p))
    # v2 says host 2x slower; v3 says unchanged — v3 must win
    sec = bench._vs_prev_section({"q_a": 1.0}, 0.10, 1.40, 0.60)
    assert sec["calib_probe_used"] == "v3"
    assert sec["host_ratio_vs_prev"] == 1.0
    assert sec["normalized_vs_prev"] == 1.0
    # v3 missing on the new side: falls back to v2
    sec = bench._vs_prev_section({"q_a": 1.0}, 0.10, 1.40, None)
    assert sec["calib_probe_used"] == "v2"
    assert sec["host_ratio_vs_prev"] == 2.0
    # legacy 3-tuple snapshot (pre-v3 bench.py pickled shape): still works
    snap = ({"q_a": 1.0}, 0.10, 0.70)
    sec = bench._vs_prev_section({"q_a": 1.0}, 0.10, 0.70, 0.60, prev=snap, path=str(p))
    assert sec["calib_probe_used"] == "v2"
    assert sec["normalized_vs_prev"] == 1.0


def test_load_prev_empty_file_warns_and_returns_none(tmp_path, capsys):
    """`python bench.py > bench_out.json` truncates the prev artifact at
    shell-open time; an empty prev must degrade loudly, not silently
    (ADVICE r8)."""
    p = tmp_path / "empty.json"
    p.write_text("")
    assert bench._load_prev_artifact(str(p)) is None
    assert "EMPTY" in capsys.readouterr().err


def test_vs_prev_uses_startup_snapshot_not_lazy_read(tmp_path):
    """main() snapshots the prev artifact before the bench runs; the
    section must honor a passed snapshot even if the file has since been
    truncated (the redirect workflow)."""
    p = tmp_path / "prev.json"
    p.write_text(json.dumps({"queries": {"q_a": 1.0}, "calib_sec": 0.1}))
    snap = bench._load_prev_artifact(str(p))
    p.write_text("")  # the shell redirect's truncation
    sec = bench._vs_prev_section({"q_a": 1.0}, 0.1, None, prev=snap, path=str(p))
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
    loaded = bench._load_prev_artifact(str(out))
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
    import sys

    import pytest

    import quarkus_etl_spark.session as session
    from tools import ab12

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started before the names were checked")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["ab12", "g", "q_sim_ann_lsh", "q_no_such_query"])
    with pytest.raises(SystemExit) as exc:
        ab12.main()
    assert exc.value.code == 2
    assert "q_no_such_query" in capsys.readouterr().err
