"""Size-based strategy routing (VERDICT r2 next-round #2/#3): the
graph/cluster family must ride the exhaustive exact-Jaccard edge build at
oracle scale and the MinHash-LSH candidate plan above the corpus-size
threshold; q_knn_graph must delegate to the sign-LSH ANN plan above the
vector-count threshold. These tests pin BOTH directions of the routing and
the LSH path's precision contract (every emitted edge carries the exact
exhaustive jaccard value)."""

from __future__ import annotations

from quarkus_etl_spark.operators import dedup, kmeans, similarity
from quarkus_etl_spark.operators.dedup import near_dup_edges, ngram_jaccard_pairs
from quarkus_etl_spark.plans import plan_string


def _docs(spark, sf_dir):
    from quarkus_etl_spark.catalog import load_table

    return load_table(spark, sf_dir, "documents")


def test_lsh_edges_are_subset_with_identical_jaccard(spark, sf_dir, monkeypatch):
    d = _docs(spark, sf_dir)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_edges(
            d, "doc_id", "text", block_col="lang", threshold=0.7
        ).collect()
    }
    monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", -1)
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_edges(
            d, "doc_id", "text", block_col="lang", threshold=0.7
        ).collect()
    }
    # precision 1.0: every LSH edge is a true edge with the exact value
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    # recall must be near-total: 64 hashes in 16 bands of 4 put a true pair
    # at J=0.7 in a shared band with probability 1-(1-0.7^4)^16 = 0.988,
    # and pairs above the threshold higher still
    assert len(lsh) >= 0.9 * len(exact) > 0


def test_near_dup_edges_auto_routes_by_corpus_size(spark, sf_dir, monkeypatch):
    d = _docs(spark, sf_dir)
    # fixture corpus is far below the default threshold -> exhaustive
    # (the log-bucketed self-join; no minhash signature columns in plan)
    auto_small = near_dup_edges(d, "doc_id", "text", block_col="lang", threshold=0.7)
    assert "array_min" not in plan_string(auto_small)
    # force the threshold below the corpus size -> LSH candidates
    monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", 1)
    auto_big = near_dup_edges(d, "doc_id", "text", block_col="lang", threshold=0.7)
    assert "array_min" in plan_string(auto_big)


def test_ngram_jaccard_auto_routes_to_exact_prefix(spark, sf_dir, monkeypatch):
    """q_dedup_ngram's auto route must stay EXACT on both sides of the
    threshold: exhaustive below, AllPairs prefix filtering above — same
    result multiset either way."""
    d = _docs(spark, sf_dir)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", block_col="lang", threshold=0.7
        ).collect()
    }
    monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", 1)
    routed = ngram_jaccard_pairs(
        d, "doc_id", "text", block_col="lang", threshold=0.7
    )
    assert "array_min" not in plan_string(routed)  # prefix, not LSH
    assert {(r.id_a, r.id_b): r.jaccard for r in routed.collect()} == exact


def test_graph_family_consumes_the_router():
    """Source-level pin: every cluster/graph consumer builds its pair graph
    through near_dup_edges (auto-routed), never ngram_jaccard_pairs
    directly — the CC rounds localCheckpoint, so the edge plan is not
    visible in the final output's lineage and must be pinned here."""
    import inspect

    from quarkus_etl_spark.queries import curation_q, northstar_q

    for fn in (
        northstar_q.q_dedup_cluster,
        northstar_q.q_dedup_canonical,
        northstar_q.q_dedup_canonical_best,
        northstar_q.q_dedup_soft,
        northstar_q.q_graph_pagerank,
        northstar_q.q_graph_label_prop,
        northstar_q.q_text_fuzzy,
        curation_q.q_split_leakage,
    ):
        src = inspect.getsource(fn)
        assert "near_dup_edges(" in src, fn.__name__
        assert "ngram_jaccard_pairs(" not in src, fn.__name__


def test_graph_family_valid_under_lsh_edge_build(spark, sf_dir, monkeypatch):
    """With the threshold forced low, the cluster query runs on LSH
    candidates end-to-end and still produces a structurally valid
    clustering (cluster id == component minimum)."""
    from quarkus_etl_spark.queries.northstar_q import q_dedup_cluster

    monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", 1)
    out = q_dedup_cluster(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    # cluster id is the component minimum, so it can never exceed the member
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
        assert r.cluster_id <= r.doc_id
    for cid, members in by_cluster.items():
        assert min(members) == cid


def test_knn_graph_routes_to_ann_above_threshold(spark, sf_dir, monkeypatch):
    from quarkus_etl_spark.queries.northstar_q import q_knn_graph

    exact_cols = q_knn_graph(spark, sf_dir).columns
    monkeypatch.setattr(similarity, "EXACT_PAIRWISE_MAX_VECS", 1)
    routed = q_knn_graph(spark, sf_dir)
    assert routed.columns == exact_cols  # identical output contract
    rows = routed.collect()
    assert len(rows) > 0
    assert all(1 <= r.nn_rank <= 3 for r in rows)


def test_lsh_paths_never_plan_nested_loops(spark, sf_dir, monkeypatch, lsh_planes):
    """Every LSH candidate plan must join on equi-keys (bucket/band/id):
    if a refactor breaks an equality conjunct, Catalyst silently falls back
    to BroadcastNestedLoopJoin/CartesianProduct — the quadratic the router
    exists to avoid. Pin their absence in all three generators."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.dedup import (
        incremental_jaccard_pairs,
        near_dup_edges,
    )
    from quarkus_etl_spark.operators.similarity import ann_pairs

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", -1)
    lsh_planes(e.count(), 4)
    plans = [
        plan_string(
            near_dup_edges(d, "doc_id", "text", block_col="lang", threshold=0.7)
        ),
        plan_string(
            incremental_jaccard_pairs(
                d.where(F.col("doc_id") % 5 != 0),
                d.where(F.col("doc_id") % 5 == 0),
                "doc_id", "text", "lang", 0.7,
            )
        ),
        plan_string(ann_pairs(e, "vec_id", "embedding", 0.4, dim=64, block_col="label")),
    ]
    for p in plans:
        assert "CartesianProduct" not in p, p[:2000]
        assert "BroadcastNestedLoopJoin" not in p, p[:2000]


def test_events_ts_is_session_timezone_independent(spark, sf_dir):
    """The driver builds its OWN SparkSession whose timezone we don't
    control; the events nanos->NTZ conversion must yield the same wall
    time DuckDB reads from the naive parquet nanos regardless of the
    session TZ (load_table pins UTC as a runtime conf)."""
    import duckdb

    from quarkus_etl_spark import catalog as cat

    sess = spark.newSession()
    # first load pins UTC (once per session); override AFTERWARDS so the
    # assertion genuinely runs under a foreign timezone
    cat.load_table(sess, sf_dir, "events")
    sess.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert sess.conf.get("spark.sql.session.timeZone") == "America/New_York"
    # bypass the table cache: it would return the already-built plan
    cat._TABLE_CACHE.pop((cat._session_key(sess), sf_dir, "events"), None)
    got = {
        r.event_id: r.ts
        for r in cat.load_table(sess, sf_dir, "events")
        .select("event_id", "ts")
        .orderBy("event_id")
        .limit(20)
        .collect()
    }
    want = dict(
        duckdb.sql(
            f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM "
            f"read_parquet('{sf_dir}/events.parquet') ORDER BY event_id LIMIT 20"
        ).fetchall()
    )
    assert got == want


def test_incremental_lsh_subset_with_identical_jaccard(spark, sf_dir, monkeypatch):
    """The asymmetric LSH plan must emit a subset of the exact incremental
    pairs with identical jaccard values, and the auto route must flip to it
    when the combined corpus exceeds the threshold."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.dedup import incremental_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 5 != 0)
    delta = d.where(F.col("doc_id") % 5 == 0)
    exact = {
        (r.id_exist, r.id_new): r.jaccard
        for r in incremental_jaccard_pairs(
            corpus, delta, "doc_id", "text", "lang", 0.7
        ).collect()
    }
    monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", -1)
    lsh = {
        (r.id_exist, r.id_new): r.jaccard
        for r in incremental_jaccard_pairs(
            corpus, delta, "doc_id", "text", "lang", 0.7
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    assert len(lsh) >= 0.9 * len(exact) > 0  # t=0.7: band collision ~0.99


def test_incremental_auto_routes_by_size(spark, sf_dir, monkeypatch):
    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.dedup import incremental_jaccard_pairs
    from quarkus_etl_spark.plans import plan_string

    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 5 != 0)
    delta = d.where(F.col("doc_id") % 5 == 0)
    small = incremental_jaccard_pairs(corpus, delta, "doc_id", "text", "lang", 0.7)
    assert "array_min" not in plan_string(small)  # exact plan
    monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", 1)
    big = incremental_jaccard_pairs(corpus, delta, "doc_id", "text", "lang", 0.7)
    assert "array_min" in plan_string(big)  # minhash signatures present


def test_ann_pairs_subset_with_identical_cosine(spark, sf_dir, lsh_planes):
    """The sign-LSH pair generator must emit a SUBSET of the exact pairs,
    each with the identical cosine, each exactly once (the probe.id <
    base.id conjunct), with near-total recall at fixture scale."""
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import ann_pairs, pairwise_similar

    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in pairwise_similar(
            e, "vec_id", "embedding", "label", threshold=0.4
        ).collect()
    }
    lsh_planes(e.count(), 4)
    ann_rows = ann_pairs(e, "vec_id", "embedding", 0.4, dim=64, block_col="label").collect()
    ann = {(r.id_a, r.id_b): r.cosine for r in ann_rows}
    assert len(ann_rows) == len(ann)  # each pair exactly once
    assert set(ann) <= set(exact)
    for k, v in ann.items():
        assert v == exact[k]
    # Recall floor: the fixture's qualifying pairs sit AT the 0.4 threshold,
    # which is mid-S-curve for sign-LSH (per-plane collision 1-acos(.4)/pi
    # ~= 0.63; same-bucket + hamming-1 multiprobe at 4 planes ~= 0.53
    # expected) — so with only ~5 exact pairs assert survival, not a high
    # ratio. TRUE near-dups (cosine > 0.9, the dedup case) collide with
    # probability > 0.99 — that is the regime the router targets.
    assert len(ann) >= 1 and len(exact) > 0


def test_sim_pairs_routes_to_ann_above_threshold(spark, sf_dir, monkeypatch):
    from quarkus_etl_spark.queries.northstar_q import q_dedup_embed, q_sim_pairs

    exact_cols = q_sim_pairs(spark, sf_dir).columns
    monkeypatch.setattr(similarity, "EXACT_PAIRWISE_MAX_VECS", 1)
    routed = q_sim_pairs(spark, sf_dir)
    assert routed.columns == exact_cols
    assert routed.count() > 0
    # dedup_embed rides the same router and must still resolve survivors
    total = q_dedup_embed(spark, sf_dir).count()
    assert 0 < total <= load_table_count(spark, sf_dir)


def load_table_count(spark, sf_dir):
    from quarkus_etl_spark.catalog import load_table

    return load_table(spark, sf_dir, "embeddings").count()


def test_max_token_count_strategies_agree(spark, sf_dir):
    """The histogram and sorted-run forms must produce the IDENTICAL
    integer on every fixture doc and on synthetic long docs that cross the
    per-row switch (a token's multiplicity equals its sorted-run length)."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.functions.text import (
        MAX_TOKEN_HIST_LEN,
        _max_count_hist,
        _max_count_sorted,
        max_token_count,
        normalize_text,
        tokenize,
    )

    d = load_table(spark, sf_dir, "documents").select(
        tokenize(normalize_text("text")).alias("tk")
    )
    # synthetic docs longer than the switch threshold: the fixture corpus is
    # short-doc-shaped, so without these the sorted branch never executes
    long_docs = spark.range(20).select(
        F.flatten(
            F.array_repeat(
                F.split(F.lit("alpha beta gamma delta beta"), " "),
                (MAX_TOKEN_HIST_LEN // 5) + 20,
            )
        ).alias("tk")
    )
    for frame in (d, long_docs):
        diff = (
            frame.select(
                _max_count_hist(F.col("tk")).alias("h"),
                _max_count_sorted(F.col("tk")).alias("s"),
                max_token_count(F.col("tk")).alias("a"),
            )
            .where((F.col("h") != F.col("s")) | (F.col("a") != F.col("h")))
            .count()
        )
        assert diff == 0


def test_kmeans_pruned_assignment_exact_at_full_probe(spark, sf_dir):
    """The IVF-pruned Lloyd assignment (q_emb_kmeans's large-k route) scores
    candidates with the SAME quantized metric as the exhaustive plan, so with
    nprobe == n_cells (every cell probed) it must be bit-identical to the
    all-centroid argmin; at nprobe < n_cells it may only lose rows to
    unprobed cells — scores on agreeing rows stay identical."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.functions.vectors import to_double_array
    from quarkus_etl_spark.operators.kmeans import (
        kmeans_assign_pruned,
        quantized_sq_dist,
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    cents = (
        v.orderBy("vec_id")
        .limit(9)
        .select(F.col("vec_id").cast("long").alias("cluster"), F.col("e").alias("carr"))
    )
    exact = {
        r.vec_id: r.cluster
        for r in (
            v.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                F.struct(
                    quantized_sq_dist("e", "carr").alias("dist"),
                    F.col("cluster").alias("cluster"),
                ).alias("dc"),
            )
            .groupBy("vec_id")
            .agg(F.min("dc").alias("m"))
            .select("vec_id", F.col("m.cluster").alias("cluster"))
        ).collect()
    }
    # full probe (C = isqrt(9) = 3 cells, nprobe=3): exactly the exhaustive
    full = {
        r.vec_id: r.cluster
        for r in kmeans_assign_pruned(v, cents, nprobe=3).collect()
    }
    assert full == exact
    # pruned probe: every vector still gets exactly one assignment, and a
    # large majority agree with the exhaustive argmin (fixture clusters are
    # separable; the floor is empirical with margin)
    part = {
        r.vec_id: r.cluster
        for r in kmeans_assign_pruned(v, cents, nprobe=1).collect()
    }
    assert set(part) == set(exact)
    agree = sum(1 for k, c in part.items() if exact[k] == c) / len(exact)
    assert agree >= 0.6, agree


def test_kmeans_pruned_survives_duplicate_centroids(spark, sf_dir):
    """Lloyd iterations routinely COLLAPSE centroids (two seeds converge to
    one point). Collapsed/duplicate centroids used to leave coarse cells
    with stale seed centers and zero member centroids; a row whose probed
    cells were all empty then vanished through the inner candidate join.
    coarse_cells now compacts empty cells away, so every probed cell has
    >= 1 member and EVERY row keeps an assignment at any nprobe."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.functions.vectors import to_double_array
    from quarkus_etl_spark.operators.kmeans import coarse_cells, kmeans_assign_pruned

    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", to_double_array("embedding").alias("e"))
    one = v.orderBy("vec_id").limit(1).select(F.col("e").alias("carr"))
    # 6 centroids, ALL the same vector: C = isqrt(6) = 2 cells, every
    # centroid lands in cell 0 and the stale seed cell would be empty.
    cents = (
        one.crossJoin(spark.range(6).select(F.col("id").alias("cluster")))
        .select("cluster", "carr")
    )
    n_rows = v.count()
    for nprobe in (1, 2):
        assigned = kmeans_assign_pruned(v, cents, nprobe=nprobe)
        assert assigned.count() == n_rows, f"rows dropped at nprobe={nprobe}"
    # and the driver-side helper itself never returns an empty cell
    dup = [(i, [1.0, 2.0]) for i in range(5)] + [(5, [100.0, 200.0])]
    coarse, assign = coarse_cells(dup)
    used = set(assign.values())
    assert used == set(range(len(coarse))), (used, len(coarse))


def test_emb_kmeans_routes_to_pruned_above_k_threshold(spark, sf_dir, monkeypatch):
    """Registered-entry routing pin (both directions): at fixture k=4 the
    exact plan runs (the oracle-graded shape); forcing the threshold below k
    sends BOTH Lloyd assignments through the pruned operator — and because
    k=4 yields C=2 coarse cells with the default nprobe=2 (full probe), the
    routed output must be bit-identical to the exact baseline."""
    from quarkus_etl_spark.queries.northstar_q import q_emb_kmeans

    baseline = {
        r.cluster: (r.n_members, r.centroid_checksum)
        for r in q_emb_kmeans(spark, sf_dir).collect()
    }
    monkeypatch.setattr(kmeans, "EXACT_KMEANS_MAX_K", 1)
    routed = {
        r.cluster: (r.n_members, r.centroid_checksum)
        for r in q_emb_kmeans(spark, sf_dir).collect()
    }
    assert routed == baseline
