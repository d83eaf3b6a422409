"""Randomized property tests: operators vs pure-Python references on
seeded random inputs (repo convention: seeded loops, not hypothesis —
each Spark action is ~0.1s, so a few seeds with hundreds of rows beat
many tiny examples)."""

from __future__ import annotations

import datetime as dt
import math
import random

from pyspark.sql import functions as F

from quarkus_etl_spark.operators.percentile import exact_percentiles_multi
from quarkus_etl_spark.operators.timeseries import sessionize

EPOCH = dt.datetime(2024, 3, 1)


def _py_sessions(events, gap_s):
    """Reference sessionizer: events = [(id, key, ts)] -> {id: session}."""
    out = {}
    by_key: dict = {}
    for eid, key, ts in sorted(events, key=lambda e: (e[1], e[2], e[0])):
        by_key.setdefault(key, []).append((eid, ts))
    for key, evs in by_key.items():
        sess, prev = 0, None
        for eid, ts in evs:
            if prev is None or (ts - prev).total_seconds() > gap_s:
                sess += 1
            out[eid] = sess
            prev = ts
    return out


def test_sessionize_matches_python_reference(spark):
    rng = random.Random(11)
    events = [
        (
            i,
            rng.randrange(6),
            EPOCH + dt.timedelta(seconds=rng.randrange(0, 48 * 3600)),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(events, "eid long, key long, ts timestamp_ntz")
    for gap_s in (600, 3600):
        got = {
            r["eid"]: r["session_id"]
            for r in sessionize(df, ["key"], "ts", gap_s, tiebreak=["eid"]).collect()
        }
        assert got == _py_sessions(events, gap_s), f"gap={gap_s}"


def _py_quantile_cont(values, p):
    """quantile_cont reference with the operator's exact ulp pattern."""
    v = sorted(values)
    r = p * (len(v) - 1)
    lo, hi = v[math.floor(r)], v[math.ceil(r)]
    if math.floor(r) == math.ceil(r):
        return lo
    return lo * (math.ceil(r) - r) + hi * (r - math.floor(r))


def test_exact_percentiles_match_python_reference(spark):
    rng = random.Random(7)
    # heavy duplication (2-dp grid) — the histogram path's target domain
    rows = [(f"g{i % 3}", round(rng.uniform(0, 50), 2)) for i in range(3000)]
    df = spark.createDataFrame(rows, "k string, v double")
    targets = {"p10": 0.1, "p50": 0.5, "p99": 0.99}
    got = {
        r["k"]: r for r in exact_percentiles_multi(df, ["k"], {"v": targets}).collect()
    }
    by_k: dict = {}
    for k, v in rows:
        by_k.setdefault(k, []).append(v)
    for k, vals in by_k.items():
        for alias, p in targets.items():
            assert got[k][alias] == _py_quantile_cont(vals, p), (k, alias)


def test_merge_upsert_batching_is_associative(spark):
    """Replaying two CDC batches one-by-one equals merging the stacked
    batches in one pass (versions ordered) — the property that lets a
    backlog replay run as a single window."""
    from quarkus_etl_spark.operators.cdc import merge_upsert

    rng = random.Random(3)
    base = [(k, float(k)) for k in range(50)]
    # key-unique per batch (merge_upsert's CDC contract: one row per key
    # per change batch; equal-version duplicates would tie arbitrarily)
    b1 = list({rng.randrange(60): 100.0 + i for i in range(30)}.items())
    b2 = list({rng.randrange(60): 200.0 + i for i in range(30)}.items())
    sdf = lambda rows: spark.createDataFrame(rows, "k long, v double")  # noqa: E731

    step1 = merge_upsert(sdf(base), sdf(b1), ["k"]).drop("__version")
    seq = merge_upsert(step1, sdf(b2), ["k"]).drop("__version")

    last: dict = {}
    for k, v in b1 + b2:
        # within a batch merge_upsert keeps ONE row per key (row_number);
        # the reference mirrors last-write-in-batch by dict overwrite
        last[k] = v
    want = {k: last.get(k, dict(base).get(k)) for k in set(dict(base)) | set(last)}
    got = {r["k"]: r["v"] for r in seq.collect()}
    assert got == want


def _py_chunks(tokens, window, stride):
    if not tokens:
        tokens = [""]  # split of "" yields [""] in both engines
    starts = list(range(0, len(tokens), stride)) or [0]
    return [(i, s, tokens[s : s + window]) for i, s in enumerate(starts)]


def test_token_chunks_matches_python_reference(spark):
    from quarkus_etl_spark.functions.text import chunked, tokenize

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "x", "longtokenword"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 120))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for window, stride in ((20, 15), (8, 8), (5, 3)):
        got: dict = {}
        out = chunked(df, tokenize("text"), window, stride, keep=["id"])
        for r in out.collect():
            got.setdefault(r["id"], []).append(
                (r["chunk_id"], r["start_tok"], list(r["chunk"]))
            )
        for rid, text in rows:
            expect = _py_chunks(text.split(" "), window, stride)
            assert sorted(got[rid]) == [(i, s, c) for i, s, c in expect], (
                window, stride, rid,
            )


def _token_chunks_explode(tokens, window, stride):
    """The array-valued chunker `chunked` replaced: one struct per chunk,
    built by a `transform` lambda over the chunk starts, then exploded."""
    starts = F.sequence(F.lit(0), F.greatest(F.size(tokens) - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(
        F.when(tokens.isNotNull(), starts),
        lambda s, i: F.struct(
            i.cast("long").alias("chunk_id"),
            s.cast("long").alias("start_tok"),
            F.slice(tokens, s + 1, window).alias("chunk"),
        ),
    )
    return F.explode(chunks)


def test_chunked_matches_token_chunks_explode(spark):
    """chunked() (index-explode, codegen-fast Generate) must produce the
    exact rows of the explode-of-structs composition it replaced in the
    hot chunker paths."""
    from quarkus_etl_spark.functions.text import chunked, tokenize

    rng = random.Random(11)
    vocab = ["alpha", "beta", "gamma", "delta", "x", "longtokenword"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 90))))
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for window, stride in ((20, 15), (8, 8), (5, 3)):
        via_array = df.select(
            "id", _token_chunks_explode(tokenize("text"), window, stride).alias("s")
        ).select("id", "s.chunk_id", "s.start_tok", "s.chunk")
        via_index = chunked(df, tokenize("text"), window, stride, keep=["id"]).select(
            "id", "chunk_id", "start_tok", "chunk"
        )
        assert via_array.schema == via_index.schema
        assert (
            via_array.exceptAll(via_index).count()
            + via_index.exceptAll(via_array).count()
            == 0
        ), (window, stride)


def test_stratified_hash_sampling_is_monotone_in_rate(spark, sf_dir):
    """Raising a stratum's keep-threshold must re-select a SUPERSET of the
    same rows (the auditability property the docstring claims), and the
    realized rate must be within a few points of the nominal one."""
    from quarkus_etl_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    key = F.substring(F.md5(F.encode(F.col("event_id").cast("string"), "UTF-8")), 1, 2)
    picked = {}
    for thr, nominal in (("1a", 26 / 256), ("40", 64 / 256), ("80", 128 / 256)):
        ids = {r["event_id"] for r in ev.where(key < thr).select("event_id").collect()}
        picked[thr] = ids
        realized = len(ids) / ev.count()
        assert abs(realized - nominal) < 0.05, (thr, realized)
    assert picked["1a"] <= picked["40"] <= picked["80"]


def test_incremental_pairs_match_full_join_restriction(spark, sf_dir):
    """incremental_jaccard_pairs(existing, incoming) must equal the full
    all-pairs join restricted to boundary-crossing pairs — same candidates,
    same jaccard values, asymmetric orientation."""
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.dedup import (
        incremental_jaccard_pairs,
        ngram_jaccard_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    half = d.agg(F.max("doc_id")).first()[0] // 2
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", block_col="lang", threshold=0.7
        ).collect()
        if r["id_a"] <= half < r["id_b"]
    }
    inc = {
        (r["id_exist"], r["id_new"]): r["jaccard"]
        for r in incremental_jaccard_pairs(
            d.where(F.col("doc_id") <= half),
            d.where(F.col("doc_id") > half),
            "doc_id",
            "text",
            block_col="lang",
            threshold=0.7,
        ).collect()
    }
    assert full == inc and len(inc) > 0


def test_zorder_interleave_matches_python_reference(spark):
    """The Morton key column must equal a bit-by-bit Python mirror on
    seeded random quantized pairs, and be BIJECTIVE over them (distinct
    (qa, qb) -> distinct keys) — the property that makes a Z-range scan
    decodable back to per-dimension ranges."""
    import random

    from pyspark.sql import functions as F
    from quarkus_etl_spark.operators.zorder import interleave_bits

    rng = random.Random(42)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(500)]

    def py_interleave(qa, qb, bits=16):
        out = 0
        for b in range(bits):
            out |= ((qa >> b) & 1) << (2 * b)
            out |= ((qb >> b) & 1) << (2 * b + 1)
        return out

    df = spark.createDataFrame(pairs, "qa long, qb long").select(
        "qa",
        "qb",
        interleave_bits([F.col("qa"), F.col("qb")], 16).alias("z"),
    )
    got = {(r["qa"], r["qb"]): r["z"] for r in df.collect()}
    assert got == {(a, b): py_interleave(a, b) for a, b in pairs}
    assert len(set(got.values())) == len(set(pairs))


def test_zorder_quantize_edges(spark):
    """Quantization pins: lo -> 0, hi -> top cell (not overflow), constant
    column (lo == hi) stays in range."""
    from pyspark.sql import functions as F
    from quarkus_etl_spark.operators.zorder import quantize

    df = spark.createDataFrame(
        [(0.0,), (50.0,), (100.0,)], "x double"
    ).select(
        quantize(F.col("x"), F.lit(0.0), F.lit(100.0), 4).alias("q4"),
        quantize(F.col("x"), F.lit(50.0), F.lit(50.0), 4).alias("qconst"),
    )
    rows = df.collect()
    assert [r["q4"] for r in rows] == [0, 8, 15]
    assert all(0 <= r["qconst"] <= 15 for r in rows)


def _py_jaccard_pairs(docs, threshold):
    """Reference pair generator: docs = [(id, block, text)] -> exact word-
    bigram-set Jaccard pairs (id_a < id_b) at/above threshold."""
    import itertools

    feats = {}
    for did, blk, text in docs:
        toks = text.lower().split()
        feats[did] = (blk, {(toks[i], toks[i + 1]) for i in range(len(toks) - 1)})
    out = {}
    for (ia, (ba, sa)), (ib, (bb, sb)) in itertools.combinations(
        sorted(feats.items()), 2
    ):
        if ba != bb or not sa or not sb:
            continue
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if j >= threshold:
            out[(ia, ib)] = j
    return out


def test_near_dup_edges_strategies_on_random_corpora(spark, monkeypatch):
    """On seeded random corpora with planted near-duplicates, every caller
    of the shared candidate/verify steps against the Python reference: the
    exact plans (near_dup_edges exhaustive, ngram_jaccard_pairs prefix,
    incremental exact)
    emit exactly the reference pairs, and the LSH plans (near_dup_edges,
    incremental, unblocked minhash_near_dup_pairs) emit a subset. Every
    emitted pair carries the reference jaccard. Exercises shapes the
    fixture corpus doesn't (tiny blocks, empty docs, single-token docs)."""
    from quarkus_etl_spark.operators import dedup
    from quarkus_etl_spark.operators.dedup import (
        incremental_jaccard_pairs,
        minhash_near_dup_pairs,
        near_dup_edges,
        ngram_jaccard_pairs,
    )

    # the default cap routes to the exact plans, -1 to the at-scale ones
    # (prefix filtering, LSH); routing happens when a plan is built
    default_cap = dedup.EXHAUSTIVE_MAX_DOCS

    def routed(cap, build):
        monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", cap)
        return build()

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    did = 0
    for _ in range(120):
        n = rng.randint(0, 12)
        text = " ".join(rng.choice(vocab) for _ in range(n))
        blk = rng.choice(["en", "fr"])
        docs.append((did, blk, text))
        did += 1
        if rng.random() < 0.4 and n > 3:
            # planted near-duplicate: perturb one token; half land in the
            # other block, where the blocked plans must not pair them
            toks = text.split()
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
            docs.append((did, rng.choice(["en", "fr"]), " ".join(toks)))
            did += 1
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    want = _py_jaccard_pairs(docs, 0.6)
    # even ids exist, odd ids arrive: a planted copy takes the next id, so
    # most planted pairs cross the split; the reference pairs that cross it,
    # oriented (existing, incoming), are the incremental join's answer
    existing, incoming = df.where(F.col("doc_id") % 2 == 0), df.where(F.col("doc_id") % 2 == 1)
    want_inc = {
        (a, b) if a % 2 == 0 else (b, a): v for (a, b), v in want.items() if (a + b) % 2
    }
    unblocked = [(i, "", text) for i, _, text in docs]
    runs = [
        (
            f"near_dup_edges {strategy}",
            routed(cap, lambda: near_dup_edges(
                df, "doc_id", "text", block_col="lang", threshold=0.6,
            )),
            want,
            strategy != "lsh",
        )
        for strategy, cap in (("exhaustive", default_cap), ("lsh", -1))
    ] + [
        (
            "ngram_jaccard_pairs prefix",
            routed(-1, lambda: ngram_jaccard_pairs(
                df, "doc_id", "text", block_col="lang", threshold=0.6,
            )),
            want,
            True,
        )
    ] + [
        (
            f"incremental {strategy}",
            routed(cap, lambda: incremental_jaccard_pairs(
                existing, incoming, "doc_id", "text", block_col="lang",
                threshold=0.6,
            )),
            want_inc,
            strategy == "exact",
        )
        for strategy, cap in (("exact", default_cap), ("lsh", -1))
    ] + [
        (
            "minhash_near_dup_pairs",
            minhash_near_dup_pairs(df, "doc_id", "text", threshold=0.6),
            _py_jaccard_pairs(unblocked, 0.6),
            False,
        )
    ]
    for name, pairs, ref, exact in runs:
        got = {(r[0], r[1]): r["jaccard"] for r in pairs.collect()}
        assert got, name
        if exact:
            assert set(got) == set(ref), name
        assert set(got) <= set(ref), name
        for k, v in got.items():
            assert math.isclose(v, ref[k], rel_tol=1e-12), (name, k)


def _py_ares_sample(docs, per_group=20):
    """A-Res reference: python md5 uniforms, exponential keys, top-N per
    group — validates the engine-side md5 bit math end-to-end."""
    import hashlib
    from collections import defaultdict

    by_lang = defaultdict(list)
    for doc_id, lang, n_chars in docs:
        if n_chars <= 0:
            continue
        u = (int(hashlib.md5(str(doc_id).encode()).hexdigest()[:13], 16) + 0.5) / 4503599627370496.0
        # DECIMAL(18,9) quantization; rounding MODE is moot (a tie at the
        # 9th decimal of -ln(u)/w has ~0 measure)
        kq = round(-math.log(u) / n_chars, 9)
        by_lang[lang].append((kq, doc_id))
    out = set()
    for lang, items in by_lang.items():
        for kq, doc_id in sorted(items)[:per_group]:
            out.add((doc_id, lang))
    return out


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    """Three-way agreement (Spark / DuckDB oracle / pure Python) on the
    reproducible weighted draw — pins the md5-uniform construction, the
    exponential-key quantization, and per-group top-20 selection."""
    import duckdb

    from quarkus_etl_spark.queries.curation_q import q_sample_weighted

    got = {
        (r["doc_id"], r["lang"])
        for r in q_sample_weighted(spark, sf_dir).collect()
    }
    docs = duckdb.sql(
        f"SELECT doc_id, lang, n_chars FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    assert got == _py_ares_sample(docs)


def _py_ohlc(events):
    """OHLC reference with NULL-value skipping on open/close."""
    from collections import defaultdict

    groups = defaultdict(list)
    for event_id, ts, etype, value in events:
        bucket = ts.replace(minute=0, second=0, microsecond=0)
        groups[(bucket, etype)].append((ts, event_id, value))
    out = {}
    for key, rows in groups.items():
        vals = [v for _, _, v in rows if v is not None]
        nn = sorted((r for r in rows if r[2] is not None), key=lambda r: (r[0], r[1]))
        out[key] = (
            nn[0][2] if nn else None,
            max(vals) if vals else None,
            min(vals) if vals else None,
            nn[-1][2] if nn else None,
            len(rows),
        )
    return out


def test_ohlc_matches_python_reference_with_nulls(spark):
    rng = random.Random(5)
    events = [
        (
            i,
            EPOCH + dt.timedelta(seconds=rng.randrange(0, 6 * 3600)),
            rng.choice(["a", "b"]),
            None if rng.random() < 0.2 else round(rng.uniform(-50, 50), 2),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(
        events, "event_id long, ts timestamp_ntz, event_type string, value double"
    )
    df.createOrReplaceTempView("__ohlc_events")
    from quarkus_etl_spark.queries.analytics_q import _ord_key

    got = {
        (r["bucket"], r["event_type"]): (
            r["open_v"], r["high_v"], r["low_v"], r["close_v"], r["n"]
        )
        for r in df.select(
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            "event_type",
            "value",
            F.when(F.col("value").isNotNull(), _ord_key()).alias("ord_key"),
        )
        .groupBy("bucket", "event_type")
        .agg(
            F.min_by("value", "ord_key").alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max_by("value", "ord_key").alias("close_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == _py_ohlc(events)
