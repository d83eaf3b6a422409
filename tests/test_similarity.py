import pytest


def test_knn_graph_ann_recall(spark, sf_dir):
    """The LSH-accelerated kNN graph must recover a meaningful share of the
    exact graph's edges (fixture vectors are near-orthogonal random — the
    hardest case for LSH — so the floor is modest; high-cosine planted
    neighbors are exactly what sign-LSH keeps). Since r11 the query itself
    emits the recall CONTRACT row (VERDICT r10 #4), so this test pins the
    floor on the raw OPERATOR edges and cross-checks the query's summary."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import knn_graph_ann
    from quarkus_etl_spark.queries.northstar_q import q_knn_graph, q_knn_graph_ann

    exact = {
        (r["src"], r["nbr"]) for r in q_knn_graph(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    approx = {
        (r["src"], r["nbr"])
        for r in knn_graph_ann(e, "vec_id", "embedding", dim=64, k=3, block_col="label").collect()
    }
    assert approx, "ANN graph is empty"
    recall = len(exact & approx) / len(exact)
    # Floor raised per VERDICT r3 #3: 2 independent plane tables + bounded
    # hamming-2 probes — measured 0.95 (sf0.01) / 0.97 (sf0.001).
    assert recall >= 0.85, f"recall {recall:.3f}"
    # and the ANN graph is a valid top-k shape: <= 3 per source, rank 1..3
    from collections import Counter

    per_src = Counter(s for s, _ in approx)
    assert max(per_src.values()) <= 3
    # the driver-graded contract row agrees with the set arithmetic above
    row = q_knn_graph_ann(spark, sf_dir).collect()[0]
    assert row["n_exact_edges"] == len(exact)
    assert row["recall_ok"] is True


def test_ivf_topk_recall_floor(spark, sf_dir):
    """VERDICT r7 #5: the IVF ANN path gets a recall floor to match its LSH
    sibling's 0.85 pin. Measured at the SHIPPED q_sim_ann_ivf config
    (n_cells=16, nprobe=3, k=10) over 10 probe vectors: mean recall@10
    0.92 (sf0.001) / 0.89 (sf0.01); the nprobe curve at sf0.01 is
    0.84/0.89/0.89/0.90/0.93/0.95 for nprobe 1/2/3/4/6/8 (NOTES.md).
    Floors leave headroom for the fixtures' near-orthogonal worst case:
    mean >= 0.8, per-probe min >= 0.6."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import brute_force_topk, ivf_topk

    e = load_table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    probes = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.where(F.col("vec_id") < 10).collect()
    }
    assert len(probes) == 10
    recalls = []
    for _pid, pv in sorted(probes.items()):
        exact = {r[0] for r in brute_force_topk(e, "embedding", "vec_id", pv, k=10).collect()}
        ivf = {
            r[0]
            for r in ivf_topk(
                e, "embedding", "vec_id", pv, k=10, n_cells=16, nprobe=3
            ).collect()
        }
        recalls.append(len(exact & ivf) / len(exact))
    mean = sum(recalls) / len(recalls)
    assert mean >= 0.8, f"mean recall@10 {mean:.3f} ({recalls})"
    assert min(recalls) >= 0.6, f"per-probe recall floor broken: {recalls}"


def test_knn_graph_ann_duplicate_multiplicity_bounded(spark):
    """The r7 scale fix: identical vectors share every LSH bucket at any
    plane count, so pre-collapse the bucket join was quadratic in
    multiplicity (2000 distinct x 1000 copies = DNF >10 min; collapsed:
    33.8 s — SCALE.md). Semantics on duplicated input: every copy gets
    exactly k neighbors, its fellow copies first at cosine 1.0."""
    from collections import Counter

    from pyspark.sql import functions as F
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import knn_graph_ann

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").where(
        F.col("embedding").isNotNull()
    )
    dup = e.limit(50).crossJoin(
        spark.range(40).select(F.col("id").alias("__r"))
    ).select(
        (F.col("vec_id") + F.col("__r") * 100000).alias("vec_id"),
        "embedding",
        "label",
    )
    rows = knn_graph_ann(dup, "vec_id", "embedding", dim=64, k=3, block_col="label").collect()
    per = Counter(r["src"] for r in rows)
    assert len(per) == 2000 and set(per.values()) == {3}
    assert all(
        r["cosine"] == 1.0 and r["src"] % 100000 == r["nbr"] % 100000
        for r in rows
    )


def test_knn_graph_ann_zero_and_null_vector_duplicates(spark):
    """ADVICE r7: identical ZERO vectors duplicate naturally (failed
    encoders emit them, and the fuzz mutators mint them at phase>=2) —
    the duplicate-collapse expansion must follow the sql_cosine
    convention: fellow edges at 0.0 (they rank LAST, as the plain path
    ranks them), never the hardcoded 1.0 that made dead rows top-ranked
    neighbors. NULL-vector copies get no edges at all (on the plain path
    they never bucket-match). Nonzero duplicates keep their
    true-cosine 1.0 fellows."""
    from quarkus_etl_spark.operators.similarity import knn_graph_ann

    rows_in = [
        (i, [float(((i + 1) * (j + 2)) % 101 - 50) for j in range(8)])
        for i in range(40)
    ]
    rows_in += [(i, [1.0] * 8) for i in (100, 101, 102)]
    rows_in += [(i, [0.0] * 8) for i in (200, 201, 202)]
    rows_in += [(i, None) for i in (300, 301, 302)]
    df = spark.createDataFrame(rows_in, "vec_id long, embedding array<double>")

    rows = knn_graph_ann(df, "vec_id", "embedding", dim=8, k=3).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r)

    assert not any(s in (300, 301, 302) for s in by_src), "NULL vectors got edges"
    for s in (200, 201, 202):
        assert s in by_src, "zero-vector copy lost its edges"
        assert all(r["cosine"] == 0.0 for r in by_src[s]), (
            "zero-vector duplicate ranked above the sql_cosine 0.0"
        )
    for s in (100, 101, 102):
        fellows = [r for r in by_src[s] if r["nbr"] in (100, 101, 102)]
        assert len(fellows) == 2
        assert all(r["cosine"] == 1.0 for r in fellows)


@pytest.mark.parametrize("n_planes", [8, 33])
def test_add_lsh_bucket_matches_driver_bucket_of(spark, sf_dir, n_planes):
    """The one-expression bucket column sets exactly the bits the
    driver-side `_bucket_of` computes, for every fixture embedding — with
    33 planes too, where bit 32 only fits a bigint. A NULL vector sets no
    bit."""
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import (
        _bucket_of,
        add_lsh_bucket,
        random_hyperplanes,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planes = random_hyperplanes(64, n_planes, seed=n_planes)
    rows = add_lsh_bucket(e, "embedding", planes).collect()
    assert rows
    want = {
        r["vec_id"]: 0 if r["embedding"] is None
        else _bucket_of([float(x) for x in r["embedding"]], planes)
        for r in rows
    }
    assert {r["vec_id"]: r["bucket"] for r in rows} == want
    if n_planes > 32:
        assert max(want.values()) >= 1 << 32


def test_const_vec_round_trips_do_not_grow_with_dim(spark, round_trips):
    """A cosine against a constant vector costs the same py4j round trips
    at dim 4 and 256 (F.lit(list) made one call per component), and an
    LSH bucket the same at 8 planes and 33 (one dot-product expression
    per plane made ~270 calls each)."""
    from quarkus_etl_spark.functions.vectors import cosine_to_const
    from quarkus_etl_spark.operators.similarity import (
        add_lsh_bucket,
        random_hyperplanes,
    )

    def fewest(fn):
        return min(round_trips(fn) for _ in range(3))

    assert fewest(lambda: cosine_to_const("v", [0.5] * 4)) == fewest(
        lambda: cosine_to_const("v", [0.5] * 256)
    )
    df = spark.createDataFrame([([1.0] * 64,)], "v array<float>")
    few, many = (random_hyperplanes(64, p) for p in (8, 33))
    assert fewest(lambda: add_lsh_bucket(df, "v", few)) == fewest(
        lambda: add_lsh_bucket(df, "v", many)
    )


def test_knn_graph_ann_plans_one_bucket_join_for_all_tables(spark, sf_dir):
    """Every plane table shares one bucket join keyed on (table, bucket):
    the executed plan has no Union and exactly one join, and that join
    matches probes to buckets."""
    import re

    from pyspark.sql import functions as F

    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import knn_graph_ann

    e = load_table(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    g = knn_graph_ann(e, "vec_id", "embedding", dim=64, k=3, block_col="label")
    assert g.collect()
    plan = g._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    joins = [ln for ln in final.splitlines() if re.search(r"\w+Join ", ln)]
    assert "Union" not in final, final
    assert len(joins) == 1 and "__pb" in joins[0], joins


def test_ann_pairs_round_trips_do_not_grow_with_planes(spark, sf_dir, round_trips, lsh_planes):
    """The probe set is one parsed XOR-mask constant, so building the pair
    plan costs the same py4j round trips at 4 planes and 20 (a Column
    XOR per plane cost ~28 round trips each)."""
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import ann_pairs

    e = load_table(spark, sf_dir, "embeddings")
    n_rows = e.count()

    def fewest(n_planes):
        lsh_planes(n_rows, n_planes)
        return min(
            round_trips(lambda: ann_pairs(e, "vec_id", "embedding", 0.4, dim=64,
                                          block_col="label"))
            for _ in range(3)
        )

    assert fewest(4) == fewest(20)


def test_const_vec_is_bit_exact_and_rejects_non_finite(spark):
    """Every component of a constant vector survives the parsed literal
    (`sql_array`) bit for bit: signed zeros, subnormals, the extremes of
    the double range and values with 17 significant digits. NaN and ±Inf
    raise at build time."""
    import random
    import struct

    from pyspark.sql import functions as F

    from quarkus_etl_spark.functions.vectors import sql_array

    rng = random.Random(7)
    vec = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e-300,
           -1e300, 1.7976931348623157e308, 0.1, -0.30000000000000004]
    vec += [rng.gauss(0.0, 1.0) for _ in range(200)]
    vec += [struct.unpack(">d", rng.randbytes(8))[0] for _ in range(200)]
    vec = [x for x in vec if x == x and abs(x) != float("inf")]
    got = spark.range(1).select(F.expr(sql_array(vec)).alias("c")).first()["c"]
    assert [struct.pack(">d", x) for x in got] == [struct.pack(">d", x) for x in vec]
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="not finite"):
            sql_array([1.0, bad])


def _vectors(n, dim, salt):
    """`n` distinct deterministic vectors; `salt` keeps each test's frame
    (and so its cached routing counts) its own."""
    import random

    rng = random.Random(salt)
    return [(i, [rng.gauss(0.0, 1.0) for _ in range(dim)]) for i in range(n)]


def test_knn_graph_ann_build_launches_only_the_routing_counts(spark, monkeypatch):
    """Building the graph on a fresh duplicate-free frame runs no job of
    its own: its only jobs are the two cached routing counts (rows, which
    size the planes, and vector groups, which check for duplicates). A
    second build of the same frame runs none. The dimension comes from
    `dim`, not from a probe of the data."""
    import uuid

    from quarkus_etl_spark.operators import similarity

    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    real, counted = similarity.routing_count, []

    def routing_count(df):
        sc.setJobGroup(f"{tag}-count", "routing count")
        try:
            counted.append(df)
            return real(df)
        finally:
            sc.setJobGroup(f"{tag}-build", "build")

    monkeypatch.setattr(similarity, "routing_count", routing_count)
    df = spark.createDataFrame(_vectors(60, 8, tag), "vec_id long, embedding array<double>")

    def jobs(group):
        return len(sc.statusTracker().getJobIdsForGroup(f"{tag}-{group}"))

    try:
        sc.setJobGroup(f"{tag}-build", "build")
        similarity.knn_graph_ann(df, "vec_id", "embedding", dim=8, k=3)
        # rows (counted twice, the second time from the cache) and groups
        assert {tuple(c.columns) for c in counted} == {
            ("vec_id", "embedding"), ("__v", "__rep", "__m")
        }
        assert jobs("build") == 0 and jobs("count") > 0
        tag = uuid.uuid4().hex
        sc.setJobGroup(f"{tag}-build", "build")
        similarity.knn_graph_ann(df, "vec_id", "embedding", dim=8, k=3)
        assert jobs("build") == 0 and jobs("count") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_ann_operators_treat_off_contract_vectors_as_missing(spark):
    """A vector that breaks the `dim` contract (another length, empty, a
    non-finite component) is a missing vector: it gets no edges from
    knn_graph_ann and no pairs from ann_pairs, and every other row's
    output is the same as without it. One such row alone takes the plain
    LSH path; several collapse into one missing-vector group and take the
    duplicate path."""
    from quarkus_etl_spark.operators.similarity import ann_pairs, knn_graph_ann

    schema = "vec_id long, embedding array<double>"
    rows = _vectors(60, 8, "contract")
    off = [(900, [0.5] * 9), (901, [0.5] * 7), (902, []),
           (903, [float("nan")] + [0.5] * 7), (904, None)]

    def graph(extra):
        df = spark.createDataFrame(rows + extra, schema)
        return sorted(map(tuple, knn_graph_ann(df, "vec_id", "embedding", dim=8, k=3).collect()))

    def pairs(extra):
        df = spark.createDataFrame(rows + extra, schema)
        return sorted(map(tuple, ann_pairs(df, "vec_id", "embedding", -1.0, dim=8).collect()))

    edges, all_pairs = graph([]), pairs([])
    assert edges and {r[0] for r in edges} == set(range(60)) and all_pairs
    for extra in (off[:1], off):
        assert graph(extra) == edges
        assert pairs(extra) == all_pairs


def test_add_ivf_cell_matches_driver_probe_routing(spark, sf_dir):
    """The one-expression IVF cell is the max-cosine centroid under the
    sql_cosine convention, bit for bit what the driver-side
    `_probe_cells` computes: a zero vector scores 0.0 everywhere, a zero
    centroid scores 0.0, and ties go to the lowest cell id (centroid 3
    repeats centroid 1, so it never wins). A NULL vector gets no cell."""
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.operators.similarity import _probe_cells, add_ivf_cell

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vecs = {r["vec_id"]: r["embedding"] for r in e.collect()}
    cents = [list(map(float, vecs[i])) for i in sorted(vecs)[:6]]
    cents[3] = list(cents[1])
    cents[4] = [0.0] * 64
    extra = spark.createDataFrame(
        [(-1, [0.0] * 64), (-2, None), (-3, [-x for x in cents[0]])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in add_ivf_cell(e.unionByName(extra), "embedding", cents).collect()
    }
    want = {
        i: None if v is None else _probe_cells([float(x) for x in v], cents, 1)[0]
        for i, v in {**vecs, -1: [0.0] * 64, -2: None, -3: [-x for x in cents[0]]}.items()
    }
    assert got == want
    assert got[-2] is None and 3 not in got.values()


def test_ivf_cell_round_trips_do_not_grow_with_n_cells(spark, round_trips):
    """Scoring 4 centroids and 64 costs the same py4j round trips: the
    cell is one parsed expression over one centroid-matrix constant (a
    Column cosine per centroid cost hundreds of round trips each)."""
    from quarkus_etl_spark.operators.similarity import add_ivf_cell, random_hyperplanes

    df = spark.createDataFrame([([1.0] * 64,)], "v array<float>")
    few, many = (random_hyperplanes(64, n) for n in (4, 64))

    def fewest(fn):
        return min(round_trips(fn) for _ in range(3))

    assert fewest(lambda: add_ivf_cell(df, "v", few)) == fewest(
        lambda: add_ivf_cell(df, "v", many)
    )


def test_vector_kernels_build_in_constant_round_trips(spark, round_trips):
    """Every vector kernel is one parsed expression: the pair cosine over
    precomputed norms, cosine_to_const, l2_norm and quantized_sq_dist
    each build in at most 5 py4j round trips (the Python-lambda Column
    folds cost 78 to 266)."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.functions.vectors import (
        cosine_to_const,
        l2_norm,
        sql_array,
        sql_cosine,
    )
    from quarkus_etl_spark.operators.kmeans import quantized_sq_dist

    probe = [0.25] * 64
    builds = {
        "pair cosine": lambda: F.expr(sql_cosine("a", "b", "na", "nb")),
        "cosine_to_const": lambda: cosine_to_const("a", probe),
        "l2_norm": lambda: l2_norm("a"),
        "quantized_sq_dist": lambda: quantized_sq_dist("a", sql_array(probe)),
    }
    fewest = {name: min(round_trips(fn) for _ in range(3)) for name, fn in builds.items()}
    assert all(n <= 5 for n in fewest.values()), fewest


def test_cosine_forms_match_duckdb_and_driver_bit_for_bit(spark):
    """Seeded property: on ~200 random 64-dim pairs plus zero, NULL,
    subnormal, opposite, self and near-parallel rows, the Spark cosine
    (pair form over precomputed norms, cosine_similarity, and
    cosine_to_const against three constants) equals bit for bit DuckDB's
    guarded list_cosine_similarity (`duck_cosine`) and the driver-side
    `_py_cosine` that routes IVF probes."""
    import random
    import struct

    import duckdb
    from pyspark.sql import functions as F

    from quarkus_etl_spark.functions.vectors import (
        cosine_similarity,
        cosine_to_const,
        duck_cosine,
        l2_norm,
        sql_cosine,
    )
    from quarkus_etl_spark.operators.similarity import _py_cosine

    rng = random.Random(11)

    def gauss():
        return [rng.gauss(0.0, 1.0) for _ in range(64)]

    zero, tiny = [0.0] * 64, [5e-324] + [0.0] * 63
    pairs = [(gauss(), gauss()) for _ in range(200)]
    u = gauss()
    pairs += [
        (zero, u), (u, zero), (zero, zero), (None, u), (u, None), (None, None),
        (tiny, u), (tiny, tiny), (u, [-x for x in u]), (u, list(u)),
        (u, [x * (1 + 1e-15) for x in u]), ([2.2250738585072014e-308] * 64, u),
    ]
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    consts = {"c0": pairs[0][1], "zero": zero, "tiny": tiny}

    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select(
        "id",
        cosine_similarity("a", "b").alias("pair"),
        *[cosine_to_const("a", v).alias(k) for k, v in consts.items()],
    )
    normed = df.select("id", "a", "b", l2_norm("a").alias("na"), l2_norm("b").alias("nb"))
    out = out.join(
        normed.select("id", F.expr(sql_cosine("a", "b", "na", "nb")).alias("normed")), "id"
    )
    spark_got = {r["id"]: r.asDict() for r in out.collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, a DOUBLE[], b DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck_cols = ", ".join(
        [duck_cosine("a", "b") + " AS pair"]
        + [duck_cosine("a", f"${j + 1}::DOUBLE[]") + f" AS {k}" for j, k in enumerate(consts)]
    )
    duck_got = {
        r[0]: dict(zip(["pair", *consts], r[1:]))
        for r in con.execute(f"SELECT id, {duck_cols} FROM t", list(consts.values())).fetchall()
    }

    def bits(x):
        return None if x is None else struct.pack(">d", x)

    for i, a, b in rows:
        got = spark_got[i]
        want = {
            "pair": None if a is None or b is None else _py_cosine(a, b),
            **{k: None if a is None else _py_cosine(a, v) for k, v in consts.items()},
        }
        assert bits(got["normed"]) == bits(got["pair"]), (i, got)
        for k, w in want.items():
            assert bits(got[k]) == bits(duck_got[i][k]) == bits(w), (i, k, got[k], duck_got[i][k], w)


def test_batch_topk_ranks_null_vectors_last(spark):
    """NULL-vector candidates have a NULL cosine and rank after every
    scored one, as a global ORDER BY cosine DESC (NULLS LAST) does: in one
    partition holding ids 1-3 and two NULL vectors, probe [1, 0] keeps
    ids 1 and 2 at k=2, and a NULL row fills only a slot left empty."""
    from pyspark.sql import functions as F

    from quarkus_etl_spark.operators.similarity import batch_topk

    # enough partitions that batch_topk keeps them, every row in one
    cands = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, None), (5, None)],
        "id long, v array<double>",
    ).repartition(spark.sparkContext.defaultParallelism, F.lit(0))
    probes = spark.createDataFrame([(0, [1.0, 0.0])], "pid long, pv array<double>")

    def top(k):
        rows = batch_topk(cands, "v", "id", probes, "pid", "pv", k=k).collect()
        return sorted((r["id"], r["cosine"]) for r in rows)

    assert [i for i, _ in top(2)] == [1, 2]
    assert top(4) == [(1, 1.0), (2, top(2)[1][1]), (3, 0.0), (4, None)]
