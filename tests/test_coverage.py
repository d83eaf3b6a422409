"""SURVEY.md §2 conformance: every query the survey commits to must exist in
the registry (the judge checks the inventory line by line; this test makes
the contract machine-checked), and every registered query must be runnable
with a sane schema."""

from __future__ import annotations

import re
from pathlib import Path

from quarkus_etl_spark.queries import all_oracles, all_query_callables

SURVEY = Path(__file__).resolve().parent.parent / "SURVEY.md"


def survey_declared_queries() -> set[str]:
    text = SURVEY.read_text()
    names = set(re.findall(r"\bq_[a-z0-9_]+\b", text))
    # table-row families that the survey names generically
    return names


def test_every_survey_query_is_registered():
    declared = survey_declared_queries()
    registered = set(all_query_callables())
    missing = declared - registered
    assert not missing, f"SURVEY.md §2 queries not implemented: {sorted(missing)}"


def test_registry_is_superset_with_oracles():
    registered = set(all_query_callables())
    oracles = set(all_oracles())
    assert oracles <= registered
    # every non-oracled query is an explicitly approximate/stateful one
    rows_only = registered - oracles
    allowed_rows_only = {
        # q_agg_approx_distinct / q_agg_hll_merge: oracled since r8 (exact
        # counts + rsd/merge-lossless booleans — the sketch CONTRACT is
        # the hashed output, the percentile_approx pattern)
        "q_dedup_near",  # LSH recall
        # q_sim_ann_ivf: oracled since r11 (VERDICT r10 #4 — the full IVF
        # pipeline replicated in SQL; integer overlap@10 + recall_ok>=0.8
        # hash-checked on both engines)
        # q_knn_graph_ann: oracled since r11 (VERDICT r10 #4 — exact-twin
        # n_vectors/n_exact_edges hash-checked + edge-recall>=0.85 boolean
        # pinned TRUE; the Gaussian plane family is not SQL-replicable)
        # q_gen_addresses: oracled since r7 (md5-derived fields)
        "q_sample",  # engine-specific PRNG
        # q_agg_percentile_approx: oracled since r7 (rank-error bounds vs
        # exact quantiles — the sketch CONTRACT is the hashed output)
        "q_multimodal_frames",  # deterministic stub decode (no codecs in image)
        "q_multimodal_audio",  # synthetic codec via mapInPandas (like frames)
        "q_stream_live_eviction",  # no batch SQL computes "state at the time
        # the watermark passed"; row-exact pytest instead (test_streaming)
    }
    assert rows_only <= allowed_rows_only, rows_only


def test_registered_count_matches_survey_scale():
    # SURVEY §2 promises ~50 Tier-B + 7 Tier-C; with extensions the registry
    # should stay comfortably above that floor.
    assert len(all_query_callables()) >= 75


def _write_json(path, obj) -> None:
    import json

    path.write_text(json.dumps(obj))


def test_missing_query_module_fails_at_load(monkeypatch):
    """A renamed or deleted query module must fail the load, not silently
    drop its queries from the registry."""
    import pytest

    import quarkus_etl_spark.queries as queries

    monkeypatch.setattr(queries, "_loaded", False)
    monkeypatch.setattr(queries, "_MODULES", ("relational", "no_such_wave_q"))
    with pytest.raises(ModuleNotFoundError, match="no_such_wave_q"):
        queries._load_all()


def test_grading_order_is_derived_from_records_and_manifest(tmp_path, monkeypatch):
    """The driver grades ~50 queries in dict order per round. A query
    re-verified at or after its last verdict (or never graded) leads in
    registration order; the rest follow least-recently graded first, ties
    in registration order. Folding a new round's record needs no edit: a
    query graded after its stamp leaves the front."""
    from quarkus_etl_spark.queries import base

    manifest = tmp_path / "fingerprints.json"
    monkeypatch.setattr(base, "_ROOT", str(tmp_path))
    monkeypatch.setattr(base, "FINGERPRINTS", str(manifest))
    _write_json(manifest, {"q_c": {"src": "s", "round": 2},
                           "q_d": {"src": "s", "round": 1},
                           "q_e": {"src": "s", "round": 2},
                           "q_a": {"src": "s"}})
    _write_json(tmp_path / "CORRECTNESS_r01.json", {"q_a": {}, "q_c": {}, "q_d": {}, "q_g": {}})
    _write_json(tmp_path / "CORRECTNESS_r02.json", {"q_b": {}, "q_e": {}})
    registered = dict.fromkeys(["q_c", "q_b", "q_a", "q_g", "q_d", "q_e", "q_f"])

    def order() -> list[str]:
        return list(base._graded_last(registered))

    assert order() == ["q_c", "q_d", "q_e", "q_f", "q_a", "q_g", "q_b"]
    _write_json(tmp_path / "CORRECTNESS_r03.json", {"q_c": {}})
    assert order() == ["q_d", "q_e", "q_f", "q_a", "q_g", "q_b", "q_c"]


def test_unreadable_grading_record_fails_loudly(tmp_path, monkeypatch):
    """The records are the only source of the grading order, so a corrupt
    one raises naming the file instead of silently reordering."""
    import pytest

    from quarkus_etl_spark.queries import base

    monkeypatch.setattr(base, "_ROOT", str(tmp_path))
    _write_json(tmp_path / "CORRECTNESS_r01.json", {"q_a": {}})
    assert base._last_graded_rounds() == {"q_a": 1}
    (tmp_path / "CORRECTNESS_r02.json").write_text('{"q_a": ')
    with pytest.raises(ValueError, match="CORRECTNESS_r02.json"):
        base._last_graded_rounds()
    _write_json(tmp_path / "CORRECTNESS_r02.json", ["q_a"])
    with pytest.raises(ValueError, match="CORRECTNESS_r02.json"):
        base._last_graded_rounds()


def test_fingerprint_check_covers_every_registered_name():
    """A drifted part, a registered query with no entry and an entry left
    by an unregistered query are all reported; a cheap (src+oracle)
    current ignores the plan part and the round stamp."""
    from tools.fingerprint import diff_against_manifest

    manifest = {"q_same": {"src": "A", "oracle": "B", "plan": "C", "round": 3},
                "q_plan": {"src": "A", "oracle": "B", "plan": "C"},
                "q_gone": {"src": "A", "oracle": "B"}}
    current = {"q_same": {"src": "A", "oracle": "B", "plan": "C"},
               "q_plan": {"src": "A", "oracle": "B", "plan": "DRIFTED"},
               "q_new": {"src": "A", "oracle": "B", "plan": "C"}}
    problems = diff_against_manifest(current, manifest)
    assert set(problems) == {"q_plan", "q_new", "q_gone"}
    assert "plan" in problems["q_plan"]
    cheap = {n: {"src": "A", "oracle": "B"} for n in ("q_same", "q_plan")}
    assert diff_against_manifest(cheap, manifest) == {
        "q_gone": "entry for a query that is no longer registered"}


def test_fingerprint_write_records_only_what_passes(tmp_path, monkeypatch):
    """`--write` re-verifies exactly the drifted and unrecorded queries at
    the grading scale factor, records the passing ones stamped with the
    newest round on record, keeps a failing query's old entry, drops
    unregistered entries and exits nonzero."""
    import json

    import quarkus_etl_spark.session
    import quarkus_etl_spark.verify
    import tools.fingerprint as fp
    from quarkus_etl_spark.queries.base import _last_graded_rounds
    from quarkus_etl_spark.verify import CompareResult

    old = {"q_pass": {"src": "A", "oracle": "B", "plan": "old"},
           "q_fail": {"src": "A", "oracle": "B", "plan": "old", "round": 1},
           "q_same": {"src": "A", "oracle": "B", "plan": "C"},
           "q_gone": {"src": "A", "oracle": "B", "plan": "C"}}
    current = {"q_pass": {"src": "A", "oracle": "B", "plan": "new"},
               "q_fail": {"src": "A", "oracle": "B", "plan": "new"},
               "q_same": {"src": "A", "oracle": "B", "plan": "C"},
               "q_new": {"src": "N", "oracle": "", "plan": "P"}}
    manifest = tmp_path / "fingerprints.json"
    _write_json(manifest, old)
    verified = []

    def fake_run_all(spark, sf_dir, names=None):
        verified.append((sf_dir, names))
        return [CompareResult(n, n != "q_fail", error="mismatch" if n == "q_fail" else "")
                for n in names]

    monkeypatch.setattr(fp, "MANIFEST", str(manifest))
    monkeypatch.setattr(fp, "full_fingerprints", lambda spark, sf_dir: current)
    monkeypatch.setattr(quarkus_etl_spark.session, "get_spark", lambda *a, **k: None)
    monkeypatch.setattr(quarkus_etl_spark.verify, "run_all", fake_run_all)

    assert fp.main(["--write"]) != 0
    assert verified == [(fp.GRADE_SF_DIR, ["q_fail", "q_new", "q_pass"])]
    newest = max(_last_graded_rounds().values())
    assert json.loads(manifest.read_text()) == {
        "q_pass": {**current["q_pass"], "round": newest},
        "q_new": {**current["q_new"], "round": newest},
        "q_fail": old["q_fail"],
        "q_same": old["q_same"],
    }


def test_fingerprint_manifest_consistency():
    """Every registered query's implementation source and oracle SQL match
    the entry recorded when it last passed the differential harness, and
    the manifest holds no entry for an unregistered query. On a mismatch,
    `python -m tools.fingerprint --write` re-verifies and records it. (The
    plan part, which also catches shared-operator changes, is checked by
    `python -m tools.fingerprint --check` in the round gate — it needs a
    live session per query, too heavy for every pytest run.)"""
    from tools.fingerprint import cheap_fingerprints, diff_against_manifest, load_manifest

    manifest = load_manifest()
    assert manifest, "tools/fingerprints.json missing — run tools.fingerprint --write"
    assert diff_against_manifest(cheap_fingerprints(), manifest) == {}


def test_type_skew_manifest_is_frozen_and_wellformed():
    """VERDICT r6 #4: the known width-skew inventory is a frozen manifest,
    not a count — a 35th skew must fail the round gate
    (`python -m tools.type_audit --check`) NAMING the column. This
    structural test pins the manifest itself: exactly the reviewed 34
    entries, each a query.column key with a spark=/oracle= description for
    a REGISTERED oracled query."""
    import json

    from quarkus_etl_spark.queries.base import all_oracles
    from tools.type_audit import MANIFEST

    with open(MANIFEST) as fh:
        known = json.load(fh)
    assert len(known) == 34, f"known-skew inventory changed: {len(known)}"
    oracled = set(all_oracles())
    for key, val in known.items():
        name, _, col = key.partition(".")
        assert name in oracled and col, key
        assert val.startswith("spark=") and " oracle=" in val, (key, val)


def test_plan_marker_manifest_is_frozen_and_wellformed():
    """tools/plan_markers.json (the plan_audit round gate) stays reviewed:
    CartesianProduct EMPTY, Python-boundary nodes exactly the SURVEY-§2
    UDF/multimodal names, and the hash-demotion (SortAggregate) +
    nested-loop (BNLJ) lists at their reviewed sizes. The live sweep
    itself is `python -m tools.plan_audit --check` (needs a session)."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "plan_markers.json",
    )
    with open(path) as f:
        frozen = json.load(f)
    assert frozen["CartesianProduct"] == []
    assert frozen["BatchEvalPython"] == ["q_udf_scalar", "q_udtf_python"]
    assert frozen["ArrowEvalPython"] == ["q_udf_arrow", "q_udf_pandas"]
    assert frozen["MapInPandas"] == ["q_multimodal_audio", "q_multimodal_frames"]
    assert frozen["MapInArrow"] == ["q_udf_mapinarrow"]
    assert frozen["ArrowWindowPython"] == ["q_udf_window_pandas"]
    # the four connected-components queries: at or under
    # cluster.LOCAL_EDGE_CAP edges (every fixture graph) the graph is
    # solved by one grouped-map union-find task instead of a job per
    # hash-to-min round
    cc = ["q_dedup_canonical", "q_dedup_canonical_best", "q_dedup_cluster", "q_dedup_soft"]
    assert frozen["FlatMapGroupsInPandas"] == cc + ["q_udaf_grouped"]
    assert frozen["FlatMapCoGroupsInPandas"] == ["q_udf_cogroup"]
    # every other python-boundary name is a SURVEY-declared python-API
    # query — no other engine path leaks into a Python worker
    py = {
        n
        for k, v in frozen.items()
        for n in v
        if k not in ("BroadcastNestedLoopJoin", "SortAggregate", "CartesianProduct")
    }
    assert all(
        n.startswith(("q_udf_", "q_udtf_", "q_udaf_", "q_multimodal_")) for n in py - set(cc)
    )
    # reviewed hash-demotions: string-extreme outputs + the two documented
    # overflow-safe packed string keys
    assert frozen["SortAggregate"] == [
        "q_attribution",
        "q_dedup_canonical_best",
        "q_dq_profile",
        "q_emb_pq",
        "q_fn_collate",
        "q_shard_manifest",
    ]
    # 33 = the 32 reviewed through r10 + q_knn_graph_ann's r11 recall-
    # contract assembly (one 1-row aggregate crossJoin — bounded by
    # construction; q_sim_ann_ivf's contract row is a single LEFT
    # equi-join + aggregate, no BNLJ).
    assert len(frozen["BroadcastNestedLoopJoin"]) == 33
