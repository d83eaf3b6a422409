"""Operator unit tests: as-of join semantics, dedup invariants, similarity
recall, multimodal plumbing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from quarkus_etl_spark.catalog import load_table
from quarkus_etl_spark.operators.asof import asof_join
from quarkus_etl_spark.operators.dedup import (
    dedup_exact,
    minhash_near_dup_pairs,
    simhash_near_dup_pairs,
)
from quarkus_etl_spark.operators.multimodal import (
    audio_windows,
    synthetic_media,
    video_features,
)
from quarkus_etl_spark.operators.similarity import brute_force_topk, lsh_topk


TS = dt.datetime


def test_asof_join_handpicked(spark):
    left = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 0), "L1"),
            (1, TS(2024, 1, 1, 12, 0), "L2"),
            (2, TS(2024, 1, 1, 9, 0), "L3"),
        ],
        "k long, ts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 9, 30), 10.0),
            (1, TS(2024, 1, 1, 11, 0), 20.0),
            (1, TS(2024, 1, 1, 13, 0), 99.0),  # after both lefts
            (2, TS(2024, 1, 1, 9, 0), 5.0),  # exactly equal ts: inclusive
        ],
        "k long, ts timestamp_ntz, v double",
    )
    out = {
        r["tag"]: (r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", right_value_cols=["v"]
        ).collect()
    }
    assert out["L1"] == (TS(2024, 1, 1, 9, 30), 10.0)
    assert out["L2"] == (TS(2024, 1, 1, 11, 0), 20.0)
    assert out["L3"] == (TS(2024, 1, 1, 9, 0), 5.0)  # <= is inclusive


def test_asof_join_tiebreak_equal_ts(spark):
    """Equal right_ts ties resolve to the LARGEST tiebreak, and an
    equal-timestamp (right_ts == left_ts) right row still matches when a
    tiebreak is supplied (round-1 advice: the tiebreak used to sort before
    __side, floating left rows ahead of their inclusive matches)."""
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 0), "L1"), (2, TS(2024, 1, 1, 9, 0), "L2")],
        "k long, ts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 0), 7, 1.0),   # equal ts, low seq
            (1, TS(2024, 1, 1, 10, 0), 9, 2.0),   # equal ts, high seq -> wins
            (1, TS(2024, 1, 1, 8, 0), 99, 0.5),   # earlier, must lose to equal-ts
            (2, TS(2024, 1, 1, 8, 0), 1, 3.0),
            (2, TS(2024, 1, 1, 8, 0), 4, 4.0),    # same earlier ts, high seq -> wins
        ],
        "k long, ts timestamp_ntz, seq int, v double",
    )
    out = {
        r["tag"]: (r["asof_v"], r["asof_seq"])
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_value_cols=["v", "seq"], tiebreak="seq",
        ).collect()
    }
    assert out["L1"] == (2.0, 9)
    assert out["L2"] == (4.0, 4)


def test_asof_join_inner_drops_unmatched(spark):
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 8, 0), "early")], "k long, ts timestamp_ntz, tag string"
    )
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 9, 0), 1.0)], "k long, ts timestamp_ntz, v double"
    )
    assert (
        asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_value_cols=["v"], how="inner",
        ).count()
        == 0
    )


def test_dedup_exact_keeps_min_key(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "x"), (5, "y")], "id long, k string"
    )
    rows = dedup_exact(df, ["k"], "id").collect()
    assert {(r["id"], r["k"]) for r in rows} == {(1, "x"), (5, "y")}


def test_minhash_finds_planted_near_dup(spark):
    base = " ".join(f"word{i}" for i in range(40))
    near = base.replace("word20", "changed")  # 2 of 39 distinct bigrams differ
    other = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_near_dup_pairs(df, "doc_id", "text").collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_radius(spark):
    # simhash stability scales with feature-set size: a 1-word edit on a
    # 200-word doc perturbs ~1.5% of features -> expected hamming ~2-3
    base = " ".join(f"tok{i}" for i in range(200))
    near = base.replace("tok100", "edited")
    far = " ".join(f"zzz{i}" for i in range(200))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_dup_pairs(df, "doc_id", "text", 8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_minhash_signature_is_per_hash_and_order_free(spark):
    """Each h_i hashes with its own seed i: the 64 minima of one feature
    set are not all equal, and a permutation of the set gives the same
    signature (a MinHash is a set function)."""
    from quarkus_etl_spark.operators.dedup import MINHASH_HASHES, minhash_signatures

    feats = list(range(1, 41))
    df = spark.createDataFrame(
        [(1, feats), (2, feats[::-1]), (3, feats[20:] + feats[:20])],
        "doc_id long, __set array<long>",
    )
    sigs = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(MINHASH_HASHES))
        for r in minhash_signatures(df, "doc_id").collect()
    }
    assert len(set(sigs[1])) > 1
    assert sigs[1] == sigs[2] == sigs[3]


def test_simhash_round_trips_do_not_grow_with_bits(spark, round_trips, monkeypatch):
    """The SimHash fingerprint is one parsed fold over the bit positions:
    32 bits and 64 cost the same py4j round trips (one Python-lambda
    filter per bit cost ~150 round trips a bit)."""
    from quarkus_etl_spark.operators import dedup

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")

    def fewest(bits):
        monkeypatch.setattr(dedup, "SIMHASH_BITS", bits)
        return min(
            round_trips(lambda: dedup.simhash(df, "doc_id", "text")) for _ in range(3)
        )

    assert fewest(32) == fewest(64)


def test_no_lambda_has_a_defaulted_parameter():
    """`lambda x, i=i: ...` handed to F.transform is read as the
    (element, index) form, so `i` silently becomes the element index. No
    lambda in the package may carry a defaulted parameter."""
    import ast
    import pathlib

    import quarkus_etl_spark

    root = pathlib.Path(quarkus_etl_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Lambda)
        and (node.args.defaults or any(node.args.kw_defaults))
    ]
    assert not offenders, offenders


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(e, "embedding", "vec_id", probe, 5).collect()]
    approx = [r["vec_id"] for r in lsh_topk(e, "embedding", "vec_id", probe, 5).collect()]
    # the probe itself must be found, and recall@5 should be nontrivial
    assert exact[0] == 0 and approx[0] == 0
    assert len(set(exact) & set(approx)) >= 2


def _py_video_features(payload: bytes, n_frames: int):
    """Python reference for video_features, in two stages: sample the
    frames (rolls of the payload body over a nominal duration), then
    featurize each (L2-normalized 16-bin histogram of the byte high
    nibbles)."""
    import math

    body = payload[8:] if payload[:3] == b"SYN" and len(payload) >= 8 else b""
    nominal_ms = 1000 * (1 + len(body) % 7)
    frames = []
    for i in range(n_frames):
        roll = i % max(len(body), 1)
        frames.append((i, i * nominal_ms // max(n_frames - 1, 1), body[roll:] + body[:roll]))
    out = []
    for i, ts, frame in frames:
        hist = [0.0] * 16
        for b in frame:
            hist[b >> 4] += 1.0
        norm = math.sqrt(sum(h * h for h in hist))
        out.append((i, ts, [h / norm if norm else h for h in hist]))
    return out


def test_multimodal_decode_roundtrip(spark):
    """The synthetic payload header (the bytes the codec stubs parse)
    round-trips the declared metadata: kind, width, height."""
    import struct

    media = synthetic_media(spark, 50)
    rows = media.select("media_id", "payload", "meta.*").collect()
    assert len(rows) == 50
    for r in rows:
        raw = bytes(r["payload"])
        assert raw[:3] == b"SYN"
        kind, w, h = struct.unpack(">BHH", raw[3:8])
        assert ("image", "audio", "video")[kind] == r["kind"]
        assert (w, h) == (r["declared_w"], r["declared_h"])


def test_multimodal_frame_sampling(spark):
    """1 -> n_frames expansion, deterministic frames, monotone timestamps."""
    media = synthetic_media(spark, 30)
    rows = video_features(media, n_frames=4).collect()
    assert len(rows) == 120
    per = {}
    for r in rows:
        per.setdefault(r["media_id"], []).append(r)
    for mid, fr in per.items():
        fr.sort(key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in fr] == [0, 1, 2, 3]
        ts = [r["frame_ts_ms"] for r in fr]
        assert ts == sorted(ts) and ts[0] == 0
    # deterministic across runs
    again = {(r["media_id"], r["frame_idx"]): list(r["feature"])
             for r in video_features(media, n_frames=4).collect()}
    assert {(r["media_id"], r["frame_idx"]): list(r["feature"]) for r in rows} == again


def test_multimodal_feature_extraction(spark):
    """Features are L2-normalized 16-bin histograms keyed by (media_id,
    frame_idx)."""
    import math

    from quarkus_etl_spark.operators.multimodal import FEATURE_DIM

    feats = video_features(synthetic_media(spark, 25), n_frames=2)
    assert feats.columns == ["media_id", "frame_idx", "frame_ts_ms", "feature"]
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r["feature"]) == FEATURE_DIM
        assert math.isclose(sum(x * x for x in r["feature"]), 1.0, rel_tol=1e-5)


def test_ngram_jaccard_strategies_agree(spark, sf_dir, monkeypatch):
    """Exhaustive and prefix-filtered candidate generation are both exact:
    identical pair sets and jaccard values."""
    from quarkus_etl_spark.operators import dedup
    from quarkus_etl_spark.operators.dedup import ngram_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    ex = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in ngram_jaccard_pairs(d, "doc_id", "text", "lang", 0.7).collect()
    }
    monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", -1)
    pf = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in ngram_jaccard_pairs(d, "doc_id", "text", "lang", 0.7).collect()
    }
    assert ex == pf and len(ex) > 0


def test_drop_near_duplicates_resolution(spark):
    from quarkus_etl_spark.operators.dedup import drop_near_duplicates

    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)], "doc_id long, t string")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 4)], "id_a long, id_b long"  # cluster {0,3,5}, {1,4}
    )
    kept = sorted(r["doc_id"] for r in drop_near_duplicates(df, pairs, "doc_id").collect())
    assert kept == [0, 1, 2]


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check against an independent reference implementation:
    pandas.merge_asof (backward, inclusive) on randomized keyed event data.
    Seeded, so deterministic in CI."""
    import random

    import pandas as pd

    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    left_rows = sorted(
        (rng.randint(1, 5), base + dt.timedelta(seconds=rng.randint(0, 10_000)))
        for _ in range(120)
    )
    right_rows = sorted(
        (rng.randint(1, 5), base + dt.timedelta(seconds=rng.randint(0, 10_000)))
        for _ in range(80)
    )
    lpdf = pd.DataFrame(left_rows, columns=["k", "ts"])
    lpdf["lid"] = range(len(lpdf))
    rpdf = pd.DataFrame(right_rows, columns=["k", "ts"])
    # make right (k, ts) unique so the asof pick is well-defined
    rpdf = rpdf.drop_duplicates(["k", "ts"]).reset_index(drop=True)
    rpdf["v"] = [float(i) for i in range(len(rpdf))]

    expected = pd.merge_asof(
        lpdf.sort_values("ts", kind="stable"),
        rpdf.sort_values("ts", kind="stable"),
        on="ts", by="k", direction="backward", allow_exact_matches=True,
    ).set_index("lid")["v"]

    left = spark.createDataFrame(lpdf, "k long, ts timestamp_ntz, lid long")
    right = spark.createDataFrame(rpdf, "k long, ts timestamp_ntz, v double")
    got = {
        r["lid"]: r["asof_v"]
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts", right_value_cols=["v"]
        ).collect()
    }
    assert len(got) == len(lpdf)
    for lid, want in expected.items():
        have = got[lid]
        if pd.isna(want):
            assert have is None, (lid, have, want)
        else:
            assert have == want, (lid, have, want)


def test_exact_percentiles_edges(spark):
    """Histogram percentiles match statistics.quantiles-style quantile_cont
    on hand-checked edges: integral ranks, p=0/1, duplicated values,
    single-row groups."""
    from quarkus_etl_spark.operators.percentile import exact_percentiles_multi

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 4.0), ("a", 10.0), ("b", 7.5)],
        "k string, v double",
    )
    out = {
        r["k"]: r
        for r in exact_percentiles_multi(
            df, ["k"], {"v": {"p0": 0.0, "p25": 0.25, "p50": 0.5, "p75": 0.75, "p100": 1.0}}
        ).collect()
    }
    # group a sorted: [1, 2, 2, 4, 10]; r = p*(n-1) over n=5
    assert out["a"]["p0"] == 1.0          # r=0 integral
    assert out["a"]["p25"] == 2.0         # r=1 integral (duplicate value)
    assert out["a"]["p50"] == 2.0         # r=2 integral
    assert out["a"]["p75"] == 4.0         # r=3 integral -> vals[3]
    assert out["a"]["p100"] == 10.0       # top rank, hi absent
    assert out["b"]["p50"] == 7.5         # single-row group
    # fractional rank: p=0.6 -> r=2.4 -> 2*(3-2.4) + 4*(2.4-2) = 2.8
    frac = exact_percentiles_multi(df, ["k"], {"v": {"p60": 0.6}}).where(F.col("k") == "a").first()
    assert abs(frac["p60"] - 2.8) < 1e-12


def test_percentiles_from_hist_matches_raw_rows(spark):
    """percentiles_from_hist over a pre-aggregated (key, value) -> count
    histogram returns bit-identical values to exact_percentiles_multi over the
    raw rows — including fractional ranks, duplicate values, NULL cells
    (ignored), and duplicate histogram rows for one value (re-aggregated)."""
    from quarkus_etl_spark.operators.percentile import (
        exact_percentiles_multi,
        percentiles_from_hist,
    )

    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 4.0), ("a", 10.0),
            ("b", 7.5), ("b", 3.0), ("b", None)]
    raw = spark.createDataFrame(rows, "k string, v double")
    # hist with a deliberately SPLIT cell for (a, 2.0): 1 + 1 instead of 2,
    # plus a NULL-valued cell — both must be handled by the hist entry point.
    hist = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("a", 2.0, 1), ("a", 4.0, 1),
         ("a", 10.0, 1), ("b", 7.5, 1), ("b", 3.0, 1), ("b", None, 1)],
        "k string, v double, c long",
    )
    targets = {"p0": 0.0, "p37": 0.37, "p50": 0.5, "p60": 0.6, "p100": 1.0}
    want = {r["k"]: r for r in exact_percentiles_multi(raw, ["k"], {"v": targets}).collect()}
    got = {
        r["k"]: r
        for r in percentiles_from_hist(hist, ["k"], "v", "c", targets).collect()
    }
    assert set(got) == set(want)
    for k in want:
        for alias in targets:
            assert got[k][alias] == want[k][alias], (k, alias, got[k][alias], want[k][alias])


def test_video_features_fused_matches_two_stage(spark):
    """The fused sample+featurize operator returns what a two-stage Python
    reference (sample frames, then featurize each) returns, to float32."""
    import numpy as np

    media = synthetic_media(spark, 20)
    fused = {
        (r["media_id"], r["frame_idx"]): (r["frame_ts_ms"], list(r["feature"]))
        for r in video_features(media, n_frames=4).collect()
    }
    staged = {
        (r["media_id"], i): (ts, [float(np.float32(x)) for x in vec])
        for r in media.select("media_id", "payload").collect()
        for i, ts, vec in _py_video_features(bytes(r["payload"]), 4)
    }
    assert len(fused) == 80
    assert fused == staged


def test_connected_components_chain_and_islands(spark):
    """A 12-node chain (worst-case diameter), a triangle, and a lone pair
    all collapse to min-id components."""
    from quarkus_etl_spark.operators.cluster import connected_components

    chain = [(i, i + 1) for i in range(100, 111)]        # 100-...-111
    tri = [(1, 2), (2, 3), (1, 3)]
    pair = [(50, 51)]
    pairs = spark.createDataFrame(chain + tri + pair, "id_a long, id_b long")
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert all(comp[n] == 100 for n in range(100, 112))
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[50] == comp[51] == 50
    assert len(comp) == 12 + 3 + 2


def _reference_components(pairs):
    """Dict union-find with path halving over pairs without a NULL end;
    a node seen only in a pair with a NULL end is its own component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        for x in (a, b):
            if x is not None:
                find(x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _random_graph(rng, id_max):
    """Chains, stars, cliques and singletons on random ids, a few edges
    across them, self-loops, and duplicate and reversed pairs."""
    ids = rng.sample(range(1, id_max), 60)
    pairs, rest = [], iter(ids)
    for _ in range(rng.randint(1, 3)):
        chain = [next(rest) for _ in range(rng.randint(2, 8))]
        pairs += list(zip(chain, chain[1:]))
    for _ in range(rng.randint(1, 2)):
        hub = next(rest)
        pairs += [(hub, next(rest)) for _ in range(rng.randint(1, 5))]
    for _ in range(rng.randint(1, 2)):
        clique = [next(rest) for _ in range(rng.randint(3, 5))]
        pairs += [(a, b) for a in clique for b in clique if a < b]
    pairs += [(x, x) for x in [next(rest) for _ in range(rng.randint(1, 3))]]
    seen = [x for p in pairs for x in p]
    pairs += [(rng.choice(seen), rng.choice(seen)) for _ in range(rng.randint(0, 3))]
    pairs += [rng.choice(pairs) for _ in range(3)]
    pairs += [(b, a) for a, b in rng.sample(pairs, 3)]
    rng.shuffle(pairs)
    return pairs


@pytest.mark.parametrize("cap", [None, 0], ids=["default_cap", "cap_0"])
def test_connected_components_null_endpoints(spark, monkeypatch, cap):
    """A NULL endpoint connects nothing, the non-NULL end stays a node, and
    no NULL node appears, on the local solve and on the Spark rounds."""
    from quarkus_etl_spark.operators import cluster

    if cap is not None:
        monkeypatch.setattr(cluster, "LOCAL_EDGE_CAP", cap)
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (5, 5), (7, 6)], "id_a long, id_b long"
    )
    rows = cluster.connected_components(pairs, "id_a", "id_b").collect()
    assert {tuple(r) for r in rows} == {(1, 1), (2, 1), (3, 3), (5, 5), (6, 6), (7, 6)}
    assert len(rows) == 6


@pytest.mark.parametrize(
    "id_type, id_max", [("int", 2**31 - 1), ("bigint", 2**62)], ids=["int", "long"]
)
def test_connected_components_same_rows_at_every_cap(spark, monkeypatch, id_type, id_max):
    """Random graphs give the reference union-find's rows through the Spark
    rounds (cap 0), a cap some graphs exceed and the default cap."""
    import random

    from quarkus_etl_spark.operators import cluster

    rng = random.Random(id_max)
    caps = (0, 40, cluster.LOCAL_EDGE_CAP)
    for _ in range(3):
        pairs = _random_graph(rng, id_max)
        df = spark.createDataFrame(pairs, f"id_a {id_type}, id_b {id_type}")
        expected = _reference_components(pairs)
        for cap in caps:
            monkeypatch.setattr(cluster, "LOCAL_EDGE_CAP", cap)
            comp = cluster.connected_components(df, "id_a", "id_b")
            assert comp.schema.simpleString() == (
                f"struct<node:{id_type},component:{id_type}>"
            )
            assert {tuple(r) for r in comp.collect()} == expected, (cap, pairs)
    empty = spark.createDataFrame([], f"id_a {id_type}, id_b {id_type}")
    for cap in caps:
        monkeypatch.setattr(cluster, "LOCAL_EDGE_CAP", cap)
        assert cluster.connected_components(empty, "id_a", "id_b").collect() == []


def test_local_union_find_matches_reference_and_scales():
    """The local solver alone: 300 random multigraphs match the reference
    union-find, and one randomly numbered 200k-node chain (a min-over-
    neighbours loop needs ~diameter rounds there) settles in seconds."""
    import random
    import time

    import numpy as np

    from quarkus_etl_spark.operators.cluster import _min_roots

    rng = random.Random(7)
    for _ in range(300):
        n = rng.randint(1, 60)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(1, 80))]
        u, v = (np.array(c, dtype=np.int64) for c in zip(*pairs))
        nodes, comp = _min_roots(u, v)
        assert set(zip(nodes.tolist(), comp.tolist())) == _reference_components(pairs)

    chain = np.random.default_rng(7).permutation(200_000).astype(np.int64) * 3 + 5
    start = time.perf_counter()
    nodes, comp = _min_roots(chain[:-1], chain[1:])
    assert time.perf_counter() - start < 10
    assert len(nodes) == 200_000 and (comp == 5).all()


def test_connected_components_build_jobs_do_not_grow_with_the_graph(spark):
    """Under the cap the build runs the same jobs for a 10-node and a
    1 000-node chain: only the edge count() (which AQE runs as up to three
    jobs, one per shuffle stage); no round depends on the graph."""
    import uuid

    from quarkus_etl_spark.operators.cluster import connected_components

    sc = spark.sparkContext

    def build_jobs(n):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        group = uuid.uuid4().hex
        sc.setJobGroup(group, "connected_components build")
        try:
            connected_components(pairs, "id_a", "id_b")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    small, large = build_jobs(10), build_jobs(1000)
    assert small == large and 1 <= small <= 3


def test_connected_components_raises_when_rounds_run_out(spark, monkeypatch):
    """Over the cap, a loop that hits MAX_ITER before a no-change round
    raises instead of returning half-propagated labels."""
    from quarkus_etl_spark.operators import cluster

    monkeypatch.setattr(cluster, "LOCAL_EDGE_CAP", 0)
    monkeypatch.setattr(cluster, "MAX_ITER", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="MAX_ITER=1"):
        cluster.connected_components(pairs, "id_a", "id_b")


@pytest.mark.parametrize(
    "src, dst, carry, match",
    [
        ("id_a", "id_a", (), "src and dst"),
        ("id_a", "id_b", ("u",), "collide"),
        ("id_a", "id_b", ("w", "v"), "collide"),
        ("id_a", "id_b", ("__uv",), "collide"),
    ],
)
def test_symmetrized_edges_rejects_ambiguous_columns(spark, src, dst, carry, match):
    """src == dst would pair every node with itself, and a carry column
    named u, v or __uv would shadow an endpoint: both raise at build."""
    from quarkus_etl_spark.operators.cluster import symmetrized_edges

    pairs = spark.createDataFrame(
        [(1, 2, 0.5, 0.5, 0.5, 0.5)],
        "id_a long, id_b long, u double, v double, w double, __uv double",
    )
    with pytest.raises(ValueError, match=match):
        symmetrized_edges(pairs, src, dst, carry)
    out = symmetrized_edges(pairs, "id_a", "id_b", ("w",)).collect()
    assert sorted(map(tuple, out)) == [(1, 2, 0.5), (2, 1, 0.5)]


def test_dedup_keep_canonical(spark):
    from quarkus_etl_spark.operators.cluster import dedup_keep_canonical

    df = spark.createDataFrame([(i, f"d{i}") for i in range(1, 8)], "id long, s string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    kept = sorted(r["id"] for r in dedup_keep_canonical(df, pairs, "id").collect())
    # clusters {1,2,3} -> keep 1; {5,6} -> keep 5; 4 and 7 untouched
    assert kept == [1, 4, 5, 7]


def test_merge_upsert_last_writer_wins(spark):
    from quarkus_etl_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double")
    upd = spark.createDataFrame([(2, 99.0), (4, 40.0)], "k long, v double")
    got = {r["k"]: (r["v"], r["__version"]) for r in merge_upsert(base, upd, ["k"]).collect()}
    assert got == {1: (10.0, 0), 2: (99.0, 1), 3: (30.0, 0), 4: (40.0, 1)}


def test_table_diff_classifies(spark):
    from quarkus_etl_spark.operators.cdc import table_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (5, 50.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, 21.0), (3, None), (4, 40.0)], "k long, v double"
    )
    got = {r["k"]: r["change"] for r in table_diff(old, new, ["k"], ["v"]).collect()}
    # 1 unchanged (absent), 3 null==null unchanged (absent)
    assert got == {2: "changed", 4: "added", 5: "removed"}


def test_table_diff_value_to_null_transitions_are_changes(spark):
    """The null-safe compare contract, both directions: a present row whose
    value flips value<->NULL IS a change. The DuckDB oracle's old <> form
    silently dropped exactly these (fuzz seed 17 phase 5: a duplicate-PK
    row crossed with a NULL-price mutation); the oracle now mirrors the
    operator with IS DISTINCT FROM."""
    from quarkus_etl_spark.operators.cdc import table_diff

    old = spark.createDataFrame([(1, None), (2, 20.0)], "k long, v double")
    new = spark.createDataFrame([(1, 11.0), (2, None)], "k long, v double")
    got = {r["k"]: r["change"] for r in table_diff(old, new, ["k"], ["v"]).collect()}
    assert got == {1: "changed", 2: "changed"}


def test_batch_topk_matches_per_probe_brute_force(spark, sf_dir):
    """The tournament plan must be value-identical to running the exact
    brute-force top-k once per probe."""
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import batch_topk, brute_force_topk

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    cands = e.where(F.col("vec_id") >= 4)
    got = {
        (r["probe_id"], r["vec_id"]): r["cosine"]
        for r in batch_topk(
            cands, "embedding", "vec_id", probes, "probe_id", "probe_vec", k=5
        ).collect()
    }
    for p in probes.collect():
        vec = [float(x) for x in p["probe_vec"]]
        expect = brute_force_topk(cands, "embedding", "vec_id", vec, k=5).collect()
        for r in expect:
            assert got[(p["probe_id"], r["vec_id"])] == r["cosine"]
    assert len(got) == 4 * 5


def test_token_chunks_cover_and_overlap(spark):
    """Chunks tile the token sequence: starts at every stride multiple below
    n, each chunk <= window tokens, concatenation of stride-prefixes
    reconstructs the document."""
    from quarkus_etl_spark.functions.text import chunked, tokenize

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(47))), (2, "a b c")], ["id", "text"]
    )
    rows = chunked(df, tokenize("text"), 20, 15, keep=["id"]).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append(r)
    assert [r["start_tok"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"])] == [
        0, 15, 30, 45,
    ]
    assert all(len(r["chunk"]) <= 20 for r in by_doc[1])
    # stride-prefix reconstruction: first `stride` tokens of each chunk + the
    # final chunk's tail reproduce the original token stream
    ordered = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    recon = []
    for r in ordered[:-1]:
        recon.extend(r["chunk"][:15])
    recon.extend(ordered[-1]["chunk"])
    assert recon == [f"t{i}" for i in range(47)]
    assert [r["start_tok"] for r in by_doc[2]] == [0]


def test_redact_pii_tags_and_counts(spark):
    from quarkus_etl_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-mail.co.uk or 555-0199 now"),
            (2, "no pii here"),
            (3, "two mails p@q.io r@s.org one phone 123-4567"),
        ],
        ["id", "text"],
    )
    out = {
        r["id"]: r
        for r in df.select("id", redact_pii("text").alias("red"), *pii_counts("text")).collect()
    }
    assert out[1]["red"] == "mail <EMAIL> or <PHONE> now"
    assert (out[1]["n_emails"], out[1]["n_phones"]) == (1, 1)
    assert out[2]["red"] == "no pii here"
    assert (out[2]["n_emails"], out[2]["n_phones"]) == (0, 0)
    assert out[3]["red"] == "two mails <EMAIL> <EMAIL> one phone <PHONE>"
    assert (out[3]["n_emails"], out[3]["n_phones"]) == (2, 1)


def test_salted_join_parity_and_spread(spark, sf_dir):
    """salted_join must be value-identical to the plain join (inner and
    left), reject right/full joins, and actually carry the salt in the
    join keys."""
    import pytest

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    plain = ev.join(dim, "event_type")
    salted = salted_join(ev, dim, on=["event_type"], salt_src=["event_id"], n_salts=8)
    assert salted.columns == plain.columns
    assert (
        salted.exceptAll(plain.select(*salted.columns)).count()
        + plain.select(*salted.columns).exceptAll(salted).count()
        == 0
    )
    # left join keeps unmatched left rows exactly once
    dim_missing = dim.where(F.col("event_type") != "click")
    l_plain = ev.join(dim_missing, "event_type", "left")
    l_salted = salted_join(
        ev, dim_missing, on=["event_type"], salt_src=["event_id"], how="left", n_salts=8
    )
    assert (
        l_salted.exceptAll(l_plain.select(*l_salted.columns)).count()
        + l_plain.select(*l_salted.columns).exceptAll(l_salted).count()
        == 0
    )
    with pytest.raises(ValueError):
        salted_join(ev, dim, on=["event_type"], salt_src=["event_id"], how="full")
    # the physical join keys include the salt (spread is real, not cosmetic)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_audio_windows_segmentation(spark):
    """Audio windowing: per-row expansion with deterministic features —
    values match an independent numpy computation of the same cut."""
    import numpy as np
    import struct as _struct

    from quarkus_etl_spark.operators.multimodal import (
        audio_windows,
        make_synthetic_payload,
        synthetic_media,
    )

    media = synthetic_media(spark, n=30, partitions=4).where(
        F.col("meta.kind") == "audio"
    )
    rows = audio_windows(media, window_ms=250).collect()
    assert rows
    got = {}
    for r in rows:
        got.setdefault(r["media_id"], []).append(r)
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert set(got) == set(src)
    for mid, raw in src.items():
        _k, rate_khz, _c = _struct.unpack(">BHH", raw[3:8])
        body = np.frombuffer(raw[8:], dtype=np.uint8)
        spw = max(rate_khz * 1000 * 250 // 1000, 1)
        expect_n = max((len(body) + spw - 1) // spw, 1)
        wins = sorted(got[mid], key=lambda r: r["win_idx"])
        assert len(wins) == expect_n
        seg = body[:spw].astype("float64") - 128.0
        assert abs(wins[0]["rms"] - float(np.sqrt((seg * seg).mean()))) < 1e-12
        assert wins[0]["win_start_ms"] == 0


def test_funnel_counts_are_monotone(spark, sf_dir):
    """Strict ordered funnel: each step's user count can only shrink."""
    from quarkus_etl_spark.queries.analytics_q import q_funnel

    row = q_funnel(spark, sf_dir).collect()[0]
    assert row.n_users >= row.n_step1_view >= row.n_step2_click >= row.n_step3_purchase
    assert row.n_step1_view > 0  # fixture has view events for every active user


def test_ohlc_invariants_and_no_window_sort(spark, sf_dir):
    """OHLC bars: low <= open/close <= high on every bar, and the plan is a
    pure hash aggregate (min_by/max_by) — no Window node, no sort shuffle."""
    from quarkus_etl_spark.queries.analytics_q import q_time_ohlc

    df = q_time_ohlc(spark, sf_dir)
    bad = df.where(
        (F.col("low_v") > F.col("open_v"))
        | (F.col("low_v") > F.col("close_v"))
        | (F.col("high_v") < F.col("open_v"))
        | (F.col("high_v") < F.col("close_v"))
    ).count()
    assert bad == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Sort" not in plan


def test_retention_cohort_day0_covers_all_users(spark, sf_dir):
    """Every user appears in their own cohort at offset 0, and offsets are
    never negative (cohort day is the min)."""
    from quarkus_etl_spark.queries.analytics_q import q_retention_cohort

    df = q_retention_cohort(spark, sf_dir)
    assert df.where(F.col("day_offset") < 0).count() == 0
    day0_users = (
        df.where(F.col("day_offset") == 0).agg(F.sum("n_users")).collect()[0][0]
    )
    ev = load_table(spark, sf_dir, "events")
    assert day0_users == ev.select("user_id").distinct().count()


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark n-gram set is the broadcast build side (bounded probe
    set vs unbounded corpus — the scale-correct orientation)."""
    from quarkus_etl_spark.queries.curation_q import q_decontaminate

    df = q_decontaminate(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # flagged docs must actually share grams: counts strictly positive
    assert df.where(F.col("n_shared") <= 0).count() == 0


def test_hll_merge_estimate_tracks_exact(spark, sf_dir):
    """The merged (unioned) HLL estimate must approximate the exact global
    distinct count within HLL's error envelope, roll up consistently
    (union >= any single group's estimate), and — since the r8 contract
    oracle hides raw estimates behind booleans — the hashed contract
    columns must all hold. Raw estimates are recomputed here directly."""
    from pyspark.sql import functions as F  # noqa: F811
    from quarkus_etl_spark.queries import all_query_callables
    from quarkus_etl_spark.catalog import load_table

    rows = all_query_callables()["q_agg_hll_merge"](spark, sf_dir).collect()
    assert all(r["est_rsd_ok"] and r["merge_agrees_direct"] for r in rows), rows

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(F.countDistinct("l_partkey")).first()[0]
    assert {r["l_returnflag"]: r["exact_distinct_parts"] for r in rows}[
        "ALL"
    ] == exact
    per = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sketch")
    )
    est = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("e")
    ).first()["e"]
    per_ests = [
        r["e"]
        for r in per.select(F.hll_sketch_estimate("sketch").alias("e")).collect()
    ]
    assert abs(est - exact) / exact < 0.05, (est, exact)
    assert est >= max(per_ests)


def test_dedup_keep_best_survives_huge_scores(spark):
    """The keep-best key must stay exact for web-scale document lengths:
    the old BIGINT pack (score << 40 - id) overflowed at score >= 2^23
    (an 8 MB doc's n_chars) and ANSI killed the job on one row. The
    string key must rank 9M-char > 8.5M-char > small, ties -> smallest id."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.operators.cluster import dedup_keep_best

    df = spark.createDataFrame(
        [(1, 9_000_000), (2, 8_500_000), (3, 120), (4, 9_000_000), (9, 5)],
        "doc_id long, n_chars int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4)], "id_a long, id_b long"
    )  # component {1,2,3,4}; 9 untouched
    kept = sorted(
        r["doc_id"]
        for r in dedup_keep_best(df, pairs, "doc_id", "n_chars").collect()
    )
    # winner: max n_chars 9M, tie between 1 and 4 -> smallest id 1
    assert kept == [1, 9]


def test_dedup_keep_best_out_of_domain_raises(spark):
    """ADVICE r6: out-of-domain score/id must FAIL LOUDLY — a negative
    score (or an id past 13 digits) would otherwise mis-order the packed
    string key silently AND identically in both engines, invisible to the
    differential gate."""
    import pytest
    from quarkus_etl_spark.operators.cluster import dedup_keep_best

    df = spark.createDataFrame(
        [(1, -5), (2, 10)], "doc_id long, n_chars int"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(Exception, match="packed-key domain"):
        dedup_keep_best(df, pairs, "doc_id", "n_chars").collect()
    # a NULL score in a clustered group is fail-loud too (max_by would
    # otherwise silently skip the row; count parity catches it)
    df2 = spark.createDataFrame(
        [(1, None), (2, 10)], "doc_id long, n_chars int"
    )
    with pytest.raises(Exception, match="packed-key domain"):
        dedup_keep_best(df2, pairs, "doc_id", "n_chars").collect()


def test_merge_upsert_map_typed_value_column(spark):
    """ADVICE r6: value columns need not be Spark-orderable — the max_by
    formulation never compares the value struct, so map-typed payloads
    merge fine."""
    from quarkus_etl_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2})], "k long, props map<string,int>"
    )
    upd = spark.createDataFrame(
        [(2, {"b": 99}), (3, {"c": 3})], "k long, props map<string,int>"
    )
    got = {
        r["k"]: (dict(r["props"]), r["__version"])
        for r in merge_upsert(base, upd, ["k"]).collect()
    }
    assert got == {
        1: ({"a": 1}, 0),
        2: ({"b": 99}, 1),
        3: ({"c": 3}, 1),
    }


def test_merge_upsert_key_only_schema(spark):
    """ADVICE r6: a base with no non-key columns must not break (empty
    F.struct() is unconstructible) — MERGE degenerates to key-set union
    with the updated/inserted flag."""
    from quarkus_etl_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame([(1,), (2,), (2,)], "k long")
    upd = spark.createDataFrame([(2,), (3,)], "k long")
    got = sorted(
        (r["k"], r["__version"]) for r in merge_upsert(base, upd, ["k"]).collect()
    )
    # duplicate base keys each survive (MERGE updates every matching
    # target row); absent update key 3 is an insert
    assert got == [(1, 0), (2, 1), (2, 1), (3, 1)]


def test_lsh_oversized_duplicate_cluster_is_gated_not_buffered(spark):
    """r7: the LSH bucket-size gate runs BEFORE any bucket list
    materializes, so a duplicate mega-cluster (every copy in the same
    bucket of every band — no plane/band can split identical signatures)
    is dropped by a count, never collected into one giant array. Pinned
    semantics: the oversized cluster emits NO pairs (the documented
    drop — exact dedup runs upstream of near-dedup), while normal-sized
    near-dup groups in the same corpus still pair up."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.operators.dedup import minhash_near_dup_pairs

    mega = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate page body repeated across mirrors").alias(
            "text"
        ),
    )
    pairish = spark.createDataFrame(
        [
            (100001, "the quick brown fox jumps over the lazy dog tonight"),
            (100002, "the quick brown fox jumps over the lazy dog today"),
            (100003, "completely unrelated text about spark aggregation plans"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_near_dup_pairs(
        mega.unionByName(pairish), "doc_id", "text", threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(100001, 100002)}, got


def test_merge_upsert_duplicate_update_rows_raise(spark):
    """ADVICE r7: the one-update-per-key CDC contract is enforced, not
    assumed — max_by picks an ARBITRARY winner among duplicate update
    rows (the old max(struct) form at least picked deterministically),
    so a violating batch must raise like SQL MERGE does on duplicate
    source matches. Both the value-column and key-only paths."""
    import pytest

    from quarkus_etl_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    upd = spark.createDataFrame([(1, 11.0), (1, 12.0)], "k long, v double")
    with pytest.raises(Exception, match="update rows share one key"):
        merge_upsert(base, upd, ["k"]).collect()

    basek = spark.createDataFrame([(1,), (2,)], "k long")
    updk = spark.createDataFrame([(1,), (1,)], "k long")
    with pytest.raises(Exception, match="update rows share one key"):
        merge_upsert(basek, updk, ["k"]).collect()

    # and a compliant batch with a duplicate BASE key still passes (MERGE
    # updates every matching target row — that side may repeat)
    dup_base = spark.createDataFrame([(1, 10.0), (1, 15.0)], "k long, v double")
    ok = merge_upsert(
        dup_base, spark.createDataFrame([(1, 99.0)], "k long, v double"), ["k"]
    ).collect()
    assert [(r["k"], r["v"], r["__version"]) for r in ok] == [
        (1, 99.0, 1),
        (1, 99.0, 1),
    ]
