"""Similarity search over embedding columns (SURVEY.md Tier C q_sim_*).

Three tiers, slowest-exact to fastest-approximate:
- `brute_force_topk`: exact cosine vs a probe vector; Spark plans
  TakeOrderedAndProject (per-partition heap, no global sort). The correct
  baseline at any scale where a full scan is acceptable.
- `pairwise_similar`: exhaustive blocked self-join (exact, oracle-checkable;
  the block column bounds the quadratic).
- `lsh_topk` / random-hyperplane bucketing: the 100TB path — sign-bit
  signatures from d fixed hyperplanes put each vector in one of 2^d buckets;
  probing the query's bucket (+ multi-probe neighbors at hamming
  distance 1) reduces candidates by ~2^d while keeping recall high for
  high-cosine neighbors. Hyperplanes are seeded-deterministic.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import (
    cosine_to_const,
    l2_norm,
    py_l2_norm,
    sql_array,
    sql_cosine,
    sql_double,
    sql_fold,
    sql_ident,
    to_double_array,
    vec_contract_to_null,
)
from ..plans.tuning import ensure_parallelism, log_route, routing_count


def brute_force_topk(
    df: DataFrame, vec_col: str, id_col: str, probe: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine vs `probe`, deterministic tiebreak on id."""
    sim = cosine_to_const(vec_col, probe)
    return (
        ensure_parallelism(df).select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pairwise_similar(
    df: DataFrame, id_col: str, vec_col: str, block_col: str, threshold: float
) -> DataFrame:
    """All pairs within a block with cosine >= threshold (exact)."""
    # Precompute each vector's norm ONCE (n sqrt-folds) instead of twice per
    # pair (n^2). Repartition the RAW vectors BEFORE the norm projection —
    # repartition() sits above its child, so projecting first would compute
    # every norm inside the single-split scan stage on one core.
    #
    # No broadcast HINT on either side: the build side is the full dataset,
    # which only fits executors at small scale. Catalyst's size estimate
    # auto-broadcasts when it measurably fits (local/small-SF) and otherwise
    # plans a shuffle join on the __blk equi-key, where AQE's skew-join
    # splitting keeps low-cardinality blocks parallel. An unconditional hint
    # here was round-1's scale-killer.
    pre = ensure_parallelism(
        df.select(
            F.col(id_col), F.col(block_col).alias("__blk"), to_double_array(vec_col).alias("__v")
        )
    )
    base = pre.select(F.col(id_col), "__blk", "__v", l2_norm("__v").alias("__n"))
    a, b = base.alias("a"), base.alias("b")
    sim = F.expr(sql_cosine("a.__v", "b.__v", "a.__n", "b.__n"))
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def batch_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    probes: DataFrame,
    probe_id_col: str,
    probe_vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Batched exact top-k: the JOIN form of similarity search — one scan of
    `df` scores EVERY probe (the probe batch broadcasts; candidates never
    shuffle), then a two-level tournament picks per-probe winners:

    1. partial top-k inside each scan partition (collect_list bounded by the
       partition's rows, sorted + sliced to k), so the shuffle carries
       k rows per (probe, partition) instead of the full
       |probes| x |candidates| score matrix;
    2. a closing window ranks |probes| x partitions x k survivors —
       negligible at any scale, and balanced because real probe batches are
       >> cores.

    Norms are computed once per side; the cosine fold matches DuckDB's
    `list_cosine_similarity` bit-for-bit (see functions.vectors), and the
    double negation used for the struct sort is an exact IEEE involution,
    so the tournament is value-identical to a global
    `ORDER BY cosine DESC NULLS LAST, id`: the sort struct leads with
    `cosine IS NULL`, because a NULL field sorts first and a NULL-vector
    candidate would otherwise take a top-k slot."""
    base = (
        ensure_parallelism(df)
        .select(F.col(id_col), to_double_array(vec_col).alias("__v"))
        .withColumn("__n", l2_norm("__v"))
    )
    p = probes.select(
        F.col(probe_id_col).alias("__pid"), to_double_array(probe_vec_col).alias("__pv")
    ).withColumn("__pn", l2_norm("__pv"))
    sim = F.expr(sql_cosine("__pv", "__v", "__pn", "__n"))
    scored = base.crossJoin(F.broadcast(p)).select(
        "__pid",
        F.col(id_col),
        sim.alias("cosine"),
        F.spark_partition_id().alias("__part"),
    )
    partial = scored.groupBy("__pid", "__part").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cosine").isNull().alias("nul"),
                        (-F.col("cosine")).alias("nc"),
                        F.col(id_col).alias("id"),
                    )
                )
            ),
            1,
            k,
        ).alias("top")
    )
    cand = partial.select("__pid", F.explode("top").alias("s")).select(
        "__pid", F.col("s.id").alias(id_col), (-F.col("s.nc")).alias("cosine")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("__pid").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(F.col("__pid").alias(probe_id_col), F.col(id_col), "cosine")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def md5_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """ENGINE-PORTABLE hyperplane family: entry (i, d) is uniform in [-1, 1)
    derived from the first 32 bits of md5("i:d") — the exact double DuckDB
    computes from (CAST('0x'||substr(md5(i||':'||d),1,8) AS BIGINT)
    / 4294967296.0) * 2 - 1, so an oracle can rebuild the planes in SQL and
    replicate every bucket bit-for-bit (list_dot_product's fold is
    left-to-right like ours — verified over the full fixture). Uniform-cube
    directions are a valid sign-LSH family (any sign-symmetric component
    distribution works); the Gaussian family stays the production default."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8], 16)
             / 4294967296.0) * 2 - 1
            for d in range(dim)
        ]
        for i in range(n_planes)
    ]


# Cap for the auto-sized plane count: 2^32 buckets covers n/target up to
# ~4.3e9 (≈860 billion vectors at TARGET_BUCKET) and keeps the
# multi-probe fan-out (1+P per row) bounded. Bucket ids are bigint so the
# cap is about probe cost, not bit width.
AUTO_PLANES_MAX = 32

# Expected vectors per bucket that auto plane sizing aims for.
TARGET_BUCKET = 200

# Seed of the Gaussian plane family (lsh_topk, ann_pairs) and of the
# first of knn_graph_ann's independent plane tables.
LSH_SEED = 42

# knn_graph_ann's plane-table seeds: two independent families, the
# classic recall lever (union of L S-curves: 1-(1-p)^L).
KNN_TABLE_SEEDS = (LSH_SEED, LSH_SEED + 7919)


def _auto_planes(df: DataFrame) -> int:
    """P = log2(n/TARGET_BUCKET): expected bucket population stays ~target
    at any scale (fixed P goes quadratic — measured, see knn_graph_ann).
    The count() is a plan-build-time action — metadata-cheap on raw scans;
    callers passing derived frames pay one evaluation of their plan."""
    n_rows = max(routing_count(df), 1)
    p = math.ceil(math.log2(max(n_rows / TARGET_BUCKET, 1.0)))
    return min(max(3, p), AUTO_PLANES_MAX)


def _contract_projection(
    df: DataFrame, id_col: str, vec_col: str, dim: int, block_col: str | None
) -> DataFrame:
    """The ANN operators' one input projection: (id, __v[, __blk]), where
    __v is the vector widened to double under the `dim` contract. A vector
    of another length (or with a non-finite component) becomes a missing
    one, so hyperplanes sized to `dim` never meet ragged data, whose
    NULL-padded dot products would hash every row to one bucket."""
    cols = [F.col(id_col), to_double_array(vec_contract_to_null(vec_col, dim)).alias("__v")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("__blk"))
    return df.select(*cols)


def _lsh_bucket_sql(vec_col: str, planes: list[list[float]]) -> str:
    """The sign-bit bucket id of `vec_col` as parsed SQL: a transform over
    ONE plane-matrix constant whose dot is the vector fold (`sql_fold`),
    summed into a bigint. The lambda variables carry a `__lsh_` prefix:
    inside a lambda they would shadow a column of the same name."""
    v = f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)"
    dot = sql_fold(v, "__lsh_p")
    plane_mat = "array(" + ", ".join(sql_array(p) for p in planes) + ")"
    # bigint, not int: the auto-sized plane count grows with data volume
    # and 1 << i exceeds int32 from i=31.
    bits = (
        f"transform({plane_mat},"
        f" (__lsh_p, __lsh_i) -> IF({dot} >= 0, shiftleft(1L, __lsh_i), 0L))"
    )
    return f"aggregate({bits}, 0L, (__lsh_s, __lsh_b) -> __lsh_s + __lsh_b)"


def add_lsh_bucket(df: DataFrame, vec_col: str, planes: list[list[float]]) -> DataFrame:
    """Column `bucket`: the sign-bit bucket id from the hyperplane dot
    products. Bit i is set iff dot(v, planes[i]) >= 0 (a NULL or ragged
    vector sets no bit). One
    parsed expression (`_lsh_bucket_sql`), so building it costs a fixed
    few py4j round trips for any plane count and dim (a Column expression
    per plane cost ~270 round trips each)."""
    return df.withColumn("bucket", F.expr(_lsh_bucket_sql(vec_col, planes)))


def _bucket_of(probe: list[float], planes: list[list[float]]) -> int:
    b = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(probe, p)) >= 0:
            b |= 1 << i
    return b


def _probe_masks(n_planes: int, h2: int = 0) -> list[int]:
    """XOR masks of a multi-probe set: 0 (the own bucket), every hamming-1
    flip, and the hamming-2 flips over the first `h2` planes only — a
    fixed +C(h2,2) probes that buy the S-curve tail without scaling the
    fan-out with P (full hamming-2 would add C(P,2) ~ P^2/2 probes)."""
    return (
        [0]
        + [1 << i for i in range(n_planes)]
        + [(1 << i) | (1 << j) for i in range(h2) for j in range(i + 1, h2)]
    )


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    probe: list[float],
    k: int = 10,
    n_planes: int = 8,
    plane_family: str = "gauss",
) -> DataFrame:
    """ANN top-k: score only vectors in the probe's bucket and its hamming-1
    neighbor buckets — candidate set ~n/2^planes * (1 + planes). Recall is
    approximate by design; exactness is brute_force_topk's job.
    plane_family "md5" swaps in the engine-portable hyperplanes so an SQL
    oracle can replicate the candidate set exactly."""
    if plane_family not in ("gauss", "md5"):
        raise ValueError(f"unknown plane_family: {plane_family!r}")
    dim = len(probe)
    planes = (
        md5_hyperplanes(dim, n_planes)
        if plane_family == "md5"
        else random_hyperplanes(dim, n_planes, LSH_SEED)
    )
    target = _bucket_of(probe, planes)
    probe_buckets = [target ^ m for m in _probe_masks(n_planes)]
    bucketed = add_lsh_bucket(df, vec_col, planes)
    cands = bucketed.where(F.col("bucket").isin(probe_buckets))
    sim = cosine_to_const(vec_col, probe)
    return (
        cands.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) coarse quantization
# --------------------------------------------------------------------------


def ivf_centroids(df: DataFrame, vec_col: str, id_col: str, n_cells: int) -> list[list[float]]:
    """Deterministic centroids: the first `n_cells` vectors by id, in one
    tiny n_cells-row driver collect."""
    rows = (
        df.orderBy(F.col(id_col).asc())
        .limit(n_cells)
        .select(to_double_array(vec_col).alias("v"))
        .collect()
    )
    return [list(r["v"]) for r in rows]


def add_ivf_cell(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Column `cell`: each vector's max-cosine centroid. Build the score
    array, take array_position of its max. Ties resolve to the lowest cell
    id (array_position finds the first occurrence); a NULL vector gets a
    NULL cell.

    One parsed expression over ONE centroid-matrix constant, so building
    it costs a fixed few py4j round trips for any n_cells (a Column
    cosine per centroid cost hundreds of round trips each). Each centroid
    carries its norm, computed on the driver; the row norm is computed
    once per row and shared by every centroid score. A score is
    `cosine_to_const`'s: the one guarded cosine (`sql_cosine`)."""
    v = f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)"
    cents = "array(" + ", ".join(
        f"named_struct('c', {sql_array(c)}, 'n', {sql_double(py_l2_norm(c))})"
        for c in centroids
    ) + ")"
    score = sql_cosine(v, "__ivf_e.c", "__nv", "__ivf_e.n")
    return (
        df.withColumn("__nv", l2_norm(vec_col))
        .withColumn("__ivf_s", F.expr(f"transform({cents}, __ivf_e -> {score})"))
        .withColumn(
            "cell",
            F.expr("CAST(array_position(__ivf_s, array_max(__ivf_s)) - 1 AS INT)"),
        )
        .drop("__nv", "__ivf_s")
    )


def _py_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine of two present vectors, BIT-IDENTICAL to the
    engine/oracle convention (functions.vectors sql_cosine + DuckDB
    list_cosine_similarity): left-to-right folds, separately-rooted norms,
    zero-norm -> 0.0 (NOT -1.0 — a zero centroid must rank exactly where
    the SQL forms rank it), result clamped to [-1, 1]."""
    dot = sum(float(x) * float(y) for x, y in zip(a, b))
    denom = py_l2_norm(a) * py_l2_norm(b)
    if denom == 0.0:
        return 0.0
    return min(max(dot / denom, -1.0), 1.0)


def _probe_cells(probe: list[float], centroids: list[list[float]], nprobe: int) -> list[int]:
    """Driver-side probe->cell routing by `_py_cosine`, ties -> lowest cell
    id. The q_sim_ann_ivf recall-contract oracle replicates this routing
    in SQL, so any convention drift here is a hash FAIL, not a silent
    recall blip."""
    ranked = sorted(
        range(len(centroids)), key=lambda i: (-_py_cosine(probe, centroids[i]), i)
    )
    return ranked[:nprobe]


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    probe: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 3,
) -> DataFrame:
    """IVF ANN: route the probe to its `nprobe` nearest cells and scan only
    those (~nprobe/n_cells of the data). The cell assignment is a pure
    column expression, so at scale the index is just a partition/cluster-by
    column on the stored table — no shuffle at query time."""
    cents = ivf_centroids(df, vec_col, id_col, n_cells)
    cells = _probe_cells(probe, cents, nprobe)
    bucketed = add_ivf_cell(ensure_parallelism(df), vec_col, cents)
    cands = bucketed.where(F.col("cell").isin(cells))
    sim = cosine_to_const(vec_col, probe)
    return (
        cands.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _lsh_candidates(
    nodes: DataFrame,
    id_col: str,
    *,
    dim: int,
    n_planes: int,
    seeds: tuple[int, ...],
    masks: list[int],
    blocked: bool,
) -> DataFrame:
    """Directed sign-LSH candidates (__src, __nbr, cosine) from ONE bucket
    join over every plane table. `nodes` is (id, __v[, __blk]); a row with
    a missing vector takes no part. One projection computes the row's
    bucket under each table (one seeded plane family per entry of
    `seeds`) and posexplodes them into (__t, __b). The query side turns
    each (__t, __b) into the probes __b XOR mask, one per entry of
    `masks` (0 probes the own bucket), and one equi-join on
    (__t, __b[, __blk]) with src != nbr meets every bucket member. Each
    candidate carries the exact guarded cosine, so a pair that several
    tables reach repeats with the identical value."""
    planes = [random_hyperplanes(dim, n_planes, s) for s in seeds]
    buckets = "array(" + ", ".join(_lsh_bucket_sql("__v", p) for p in planes) + ")"
    probe_of = (
        "transform(array(" + ", ".join(f"{m}L" for m in masks) + "), __lsh_m -> __b ^ __lsh_m)"
    )
    blk = ["__blk"] if blocked else []
    bucketed = (
        nodes.where(F.col("__v").isNotNull())
        .withColumn("__n", l2_norm("__v"))
        .select(id_col, "__v", "__n", *blk, F.posexplode(F.expr(buckets)).alias("__t", "__b"))
    )
    probes = bucketed.select(
        F.col(id_col).alias("__src"),
        F.col("__v").alias("__pv"),
        F.col("__n").alias("__pn"),
        *[F.col(c).alias("__pblk") for c in blk],
        F.col("__t").alias("__pt"),
        F.explode(F.expr(probe_of)).alias("__pb"),
    )
    cond = (
        (F.col("__pt") == F.col("__t"))
        & (F.col("__pb") == F.col("__b"))
        & (F.col("__src") != F.col(id_col))
    )
    if blocked:
        cond = cond & (F.col("__pblk") == F.col("__blk"))
    sim = F.expr(sql_cosine("__pv", "__v", "__pn", "__n"))
    return probes.join(bucketed, cond).select(
        "__src", F.col(id_col).alias("__nbr"), sim.alias("cosine")
    )


def knn_graph_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    k: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """APPROXIMATE k-NN graph — the scale path for exact blocked kNN
    (quadratic per block): exact-cosine top k per source over the
    sign-LSH candidates of `_lsh_candidates`, one bucket join across the
    independent plane tables of KNN_TABLE_SEEDS. Each vector probes its
    own bucket, every hamming-1 neighbor and the hamming-2 neighbors over
    the first 4 planes (query side only, so a pair appears once per
    table that reaches it). Independent tables are the classic recall
    lever (union of L S-curves: 1-(1-p)^L); the auto-sized plane count
    gets +ceil(log2(L)) so the total candidate volume stays near the
    single-table budget ((P+8)/(P+1)x with the hamming-2 probes — 1.64x
    at P=10, falling toward 1 as P grows). The candidates reduce to one
    row per (src, nbr), then a bounded per-source window keeps the top k.
    Measured edge recall@3 against the exact graph: 0.95 (sf0.01) and
    0.97 (sf0.001), but 0.78 at sf0.1 (2000 vectors), under the 0.85
    floor pytest pins. Recall is approximate by design.

    EXACT-DUPLICATE COLLAPSE: identical vectors share every
    sign bit under every plane family, so no plane count can split them
    — bucket population is >= the duplicate multiplicity and the bucket
    join is QUADRATIC in it. Measured: 2M vectors as 2000 distinct x 1000
    copies (one hot boilerplate page per distinct doc — a real web-corpus
    shape) did not finish in 10 minutes.
    The graph is therefore built on DISTINCT (vector[, block]) groups
    (one representative each), then expanded: each copy's first k
    neighbors are fellow copies (exact duplicates ARE the true top-k,
    cosine 1.0 for nonzero vectors; 0.0 for identical ZERO vectors and
    no fellow edges at all for NULL vectors, matching the sql_cosine
    convention the plain path applies) from a k+1-bounded
    per-group head list, merged with its
    representative's graph edges through one bounded top-k window. The
    group aggregate collapses duplicates MAP-SIDE (the exchange carries
    ~distinct vectors), and when it counts as many groups as input rows
    the input is routed straight to the plain LSH path, so pristine data
    pays one map-combined aggregate and nothing else. LSH work is
    quadratic only in DISTINCT bucket population, which auto_planes
    bounds.

    `dim` is the column's declared vector dimension (the load contract's,
    e.g. queries.base.EMB_DIM): it sizes the hyperplanes, and a row whose
    vector has another length is a missing vector and gets no edges."""
    from pyspark.sql import Window

    # P MUST grow with n: the per-bucket population is n_block/2^P and
    # candidate volume is quadratic in it, so a fixed P turns the bucket
    # join quadratic as data grows (measured: P=3 fine at 20k vectors,
    # effectively unbounded at 200k). The +log2(L) keeps the L-table
    # union at the single-table candidate budget.
    n_planes = min(
        _auto_planes(df) + (len(KNN_TABLE_SEEDS) - 1).bit_length(), AUTO_PLANES_MAX
    )
    raw = ensure_parallelism(_contract_projection(df, id_col, vec_col, dim, block_col))
    grp = ["__v"] + (["__blk"] if block_col is not None else [])
    # hash aggregate keyed on the vector itself (bit-exact grouping, no
    # collision risk) — map-side partials collapse duplicates BEFORE the
    # shuffle, so the exchange carries ~distinct vectors only
    groups = raw.groupBy(*grp).agg(
        F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__m")
    )
    # Adaptive routing (same pattern as fits_exact_pairwise): the expansion
    # machinery only pays when duplicates EXIST. A corpus that already ran
    # exact dedup — or the pristine fixtures — takes the zero-extra-shuffle
    # plain path. Group sizes sum to the row count, so fewer groups than
    # rows is exactly "some group has __m > 1"; both counts are cached
    # routing_count scalars, and the row count is the one auto plane
    # sizing already paid for.
    if routing_count(groups) < routing_count(df):
        nodes = groups.select(F.col("__rep").alias(id_col), *grp)
        members = raw.join(groups, grp).select(
            F.col(id_col).alias("__src"),
            "__rep",
            "__m",
            # group norm, carried so the fellow-edge shortcut can honor the
            # sql_cosine convention (see the fellows projection)
            l2_norm("__v").alias("__gn"),
        )
    else:
        nodes, members = raw, None
    # A missing vector has no similarity: _lsh_candidates drops it, where
    # it would otherwise bucket as 0 (it sets no bit) and take k
    # NULL-cosine edges.
    pairs = _lsh_candidates(
        nodes, id_col, dim=dim, n_planes=n_planes, seeds=KNN_TABLE_SEEDS,
        masks=_probe_masks(n_planes, min(n_planes, 4)), blocked=block_col is not None,
    )
    # A pair found by several tables carries the identical cosine (same
    # deterministic fold on the same vectors), so max() is pure dedup; the
    # groupBy partitions by __src like the window right after, and AQE
    # coalesces the back-to-back exchanges.
    pairs = pairs.groupBy("__src", "__nbr").agg(F.max("cosine").alias("cosine"))

    w = Window.partitionBy("__src").orderBy(F.desc("cosine"), F.asc("__nbr"))
    rep_graph = (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            F.col("__src").alias("src"),
            F.col("__nbr").alias("nbr"),
            "cosine",
            F.col("__rn").alias("nn_rank"),
        )
    )
    if members is None:
        return rep_graph

    # Expansion: copies inherit their representative's edges, plus fellow
    # copies as cosine-1.0 neighbors from a k+1-BOUNDED per-group head
    # list (the first k+1 ids in id order — enough to give every copy k
    # fellows after self-exclusion, O(k) state per group no matter the
    # multiplicity). The head window runs over DUPLICATED members only
    # (usually a small minority). Everything downstream is <= 2k rows per
    # copy.
    dup = members.where(F.col("__m") > 1)
    hw = Window.partitionBy("__rep").orderBy(F.asc("__src"))
    heads = (
        dup.withColumn("__gr", F.row_number().over(hw))
        .where(F.col("__gr") <= k + 1)
        .groupBy("__rep")
        .agg(F.sort_array(F.collect_list(F.col("__src"))).alias("__head"))
    )
    fellows = (
        # NULL-vector groups are excluded entirely: on the plain path such
        # rows never reach the bucket join and emit zero edges, so the
        # expansion must not mint edges for them either.
        dup.where(F.col("__gn").isNotNull())
        .join(heads, "__rep")
        .select(
            "__src",
            F.explode(
                F.slice(
                    F.filter("__head", lambda x: x != F.col("__src")), 1, k
                )
            ).alias("__nbr"),
            # identical NONZERO vectors: the true cosine, not the float
            # fold. Identical ZERO vectors (failed-encoder rows duplicate
            # naturally) follow the sql_cosine convention — 0.0, not
            # 1.0 — so both paths agree on where they rank (a 1.0 here
            # would make zero vectors top-ranked neighbors while the plain
            # path ranks them last at 0.0).
            F.when(F.col("__gn") > 0, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("cosine"),
        )
    )
    inherited = members.join(
        rep_graph, members["__rep"] == rep_graph["src"]
    ).select("__src", F.col("nbr").alias("__nbr"), "cosine")
    merged = fellows.unionByName(inherited)
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(
            F.col("__src").alias("src"),
            F.col("__nbr").alias("nbr"),
            "cosine",
            F.col("__rn").alias("nn_rank"),
        )
    )


# Exact-pairwise routing threshold (q_sim_pairs / q_dedup_embed): the
# blocked half-matrix is quadratic per block — measured 1109 s at 200k
# vectors on local[32] — so above this count the pair generators delegate
# to sign-LSH bucketed candidates with exact-cosine verification
# (precision 1.0 at the threshold, recall bounded by the bucket S-curve).
EXACT_PAIRWISE_MAX_VECS = 50_000


def fits_exact_pairwise(df: DataFrame) -> bool:
    return routing_count(df) <= EXACT_PAIRWISE_MAX_VECS


def ann_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    *,
    dim: int,
    block_col: str | None = None,
) -> DataFrame:
    """APPROXIMATE all-pairs at cosine >= threshold: the scale path for
    `pairwise_similar`. The candidates are knn_graph_ann's one bucket
    join (`_lsh_candidates`) over a single plane table, each vector
    probing its own bucket plus all hamming-1 neighbors. Keeping
    src < nbr makes every unordered pair appear EXACTLY once (same-bucket
    pairs surface only from the smaller id's self-probe; one-bit-apart
    pairs only from the smaller id's neighbor-probe), and the exact
    cosine fold gives every emitted pair the identical value the
    exhaustive plan would produce. Auto-sized P = log2(n/TARGET_BUCKET)
    keeps expected bucket size constant as data grows (fixed P goes
    quadratic — measured, see knn_graph_ann).

    Duplicate-multiplicity caveat (differs from knn_graph_ann's collapse):
    identical vectors defeat plane splitting, but here the OUTPUT itself
    is quadratic in multiplicity — all C(m,2) copy-pairs truly satisfy
    any threshold — so collapse cannot help; quadratic cost is the
    declared all-pairs semantics. A duplicate-heavy corpus runs exact
    dedup (dedup_exact / dedup_keep_best) upstream first, which is the
    pipeline order the curation queries already use.

    `dim` is the column's declared vector dimension, as for knn_graph_ann:
    a row whose vector has another length gets no pairs."""
    n_planes = _auto_planes(df)
    pairs = _lsh_candidates(
        ensure_parallelism(_contract_projection(df, id_col, vec_col, dim, block_col)),
        id_col, dim=dim, n_planes=n_planes, seeds=(LSH_SEED,),
        masks=_probe_masks(n_planes), blocked=block_col is not None,
    )
    return pairs.where(
        (F.col("__src") < F.col("__nbr")) & (F.col("cosine") >= threshold)
    ).select(F.col("__src").alias("id_a"), F.col("__nbr").alias("id_b"), "cosine")


def similar_pairs_auto(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
    *,
    dim: int,
) -> DataFrame:
    """Size-routed pair generation: exact blocked half-matrix below
    EXACT_PAIRWISE_MAX_VECS (the oracle-checked plan), sign-LSH candidates
    with exact verification above. Identical (id_a, id_b, cosine) contract
    and identical values on every emitted pair. `dim` is the column's
    declared vector dimension, which sizes the ANN branch's hyperplanes."""
    if fits_exact_pairwise(df):
        log_route("similar_pairs_auto", "exact", approximate=False)
        return pairwise_similar(df, id_col, vec_col, block_col, threshold)
    log_route("similar_pairs_auto", "ann", approximate=True)
    return ann_pairs(df, id_col, vec_col, threshold, dim=dim, block_col=block_col)
