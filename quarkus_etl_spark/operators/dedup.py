"""Deduplication operators for training-data pipelines (SURVEY.md Tier C
q_dedup_*): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Every near-dup path is one candidate -> verify pipeline over one feature
table (`_ngram_sets`: hashed word bigram sets, optionally blocked):
candidates come from the size-bucketed join, prefix filtering or LSH
banding, and every candidate is verified with the same exact Jaccard.

Scale design notes (the whole point at 100TB):
- Exact dedup is ONE hash shuffle on the dedup key (window keep-first), not
  a global sort.
- MinHash signatures are ZERO-shuffle: per-row array_min(transform(...))
  folds over hashed feature arrays; LSH banding turns the O(n²) candidate
  space into bucket-grouped pair expansion (one DAG evaluation, oversized
  buckets dropped). Candidates are then verified with exact Jaccard, so
  precision is 1.0. A pair with Jaccard J shares a band with probability
  1-(1-J^4)^16 (64 hashes in 16 bands of 4): 0.988 at J=0.7, 0.644 at
  J=0.5. Recall over a corpus is higher than that floor, since most true
  pairs sit well above the threshold.
- SimHash is likewise per-row: one aggregate over the 64 bit positions
  takes each bit's majority over the hashed token+bigram array; near-dup
  pairs come from banding the fingerprint into 16-bit bands (pigeonhole:
  hamming<=3 on 4 bands guarantees one equal band) and verifying with
  bit_count(xor).
- No Python UDFs anywhere — everything is codegen'd Column algebra.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import ngram_hashes, ngrams, normalize_text
from ..plans.tuning import ensure_parallelism, log_route, routing_count


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def dedup_exact(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key (deterministically the min `order_col`).
    One shuffle; no global sort."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# --------------------------------------------------------------------------
# MinHash + LSH near-dedup
# --------------------------------------------------------------------------

MINHASH_HASHES = 64
LSH_BANDS = 16
# Buckets above this size are dropped: an oversized bucket means a
# non-discriminative band, and its quadratic pair list would dominate cost
# for no precision.
MAX_BUCKET = 1000


def minhash_signatures(sets: DataFrame, id_col: str) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature per document from its `__set`
    feature array.

    ZERO-shuffle formulation: each h_i is `array_min(transform(__set, x ->
    hash(x, i)))` — a per-row fold over the (already materialized) feature
    array, embarrassingly parallel and fully codegen'd. An explode+groupBy
    would pay a 64-column hash-aggregate for no benefit. Each h_i is parsed
    SQL with i as a literal: a Python `lambda x, i=i: ...` passed to
    F.transform is read as the (element, index) form, so every h_i would
    hash with the element's position instead of its own seed."""
    return sets.select(
        id_col,
        *[
            F.expr(f"array_min(transform(__set, x -> hash(x, {i}))) AS h{i}")
            for i in range(MINHASH_HASHES)
        ],
    )


def _bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    member: Column,
    pair: Callable[[Column, Column], Column],
) -> DataFrame:
    """One `__p` row per pair of members sharing a bucket: `member` is
    collected sorted per bucket and `pair(x, y)` builds the struct for each
    x before y.

    Grouping each bucket and emitting its pairs directly evaluates the
    banded DAG ONCE (a self-join would compute it twice). The size gate
    runs BEFORE any list materializes (r7, the knn_graph_ann multiplicity
    lesson): a WINDOW count over the bucket partitioning shares its one
    exchange with the collect aggregate, where a count-aggregate + join
    evaluated the DAG twice and a collect-then-filter form buffered a
    whole oversized bucket in ONE aggregation buffer (a million-copy
    boilerplate cluster was an executor OOM, not just wasted work).
    CAVEAT the drop implies (documented, not silent): identical documents
    collide in EVERY band, so a >MAX_BUCKET duplicate cluster has no
    smaller bucket to fall back to and emits no pairs — run exact dedup
    (dedup_exact / chunk hashing) upstream, which is the pipeline order the
    curation queries use; merely near-identical docs escape through a band
    that differs."""
    bw = Window.partitionBy(*bucket_cols)
    gated = banded.withColumn("__bn", F.count(F.lit(1)).over(bw)).where(
        F.col("__bn").between(2, MAX_BUCKET)
    )
    buckets = gated.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list(member)).alias("__m")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("__m"),
            lambda x, i: F.transform(
                F.slice(F.col("__m"), i + 2, F.size("__m")), lambda y: pair(x, y)
            ),
        )
    )
    return buckets.select(F.explode(pair_structs).alias("__p"))


def _verify(
    cands: DataFrame, sa: DataFrame, sb: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs, kept at/above `threshold`
    (precision 1.0). `cands` holds two id columns, naming the output's:
    the first is looked up in `sa`, the second in `sb`. Pairs across
    blocks and pairs with an empty set (undefined Jaccard) are dropped.

    Plain equi-joins on id (no broadcast hint): candidates are sparse and
    the feature-set sides are the full corpus, so Catalyst auto-broadcasts
    only when its size estimate says a side fits and shuffles on id
    otherwise — a shuffle proportional to the candidate count, not n²."""
    ia, ib = cands.columns

    def side(sets: DataFrame, id_name: str, s: str) -> DataFrame:
        return sets.select(
            F.col(id_col).alias(id_name),
            F.col("__blk").alias(f"__blk_{s}"),
            F.col("__set").alias(f"set_{s}"),
            F.col("__len").alias(f"l{s}"),
        )

    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    j = inter / (F.col("la") + F.col("lb") - inter)  # |A∪B| = |A|+|B|-|A∩B|
    return (
        cands.join(side(sa, ia, "a"), ia)
        .join(side(sb, ib, "b"), ib)
        .where(
            (F.col("__blk_a") == F.col("__blk_b"))
            & (F.least(F.col("la"), F.col("lb")) > 0)
        )
        .select(ia, ib, j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.8
) -> DataFrame:
    """Unblocked near-dedup: word-bigram sets -> MinHash signatures -> LSH
    candidates -> exact verification at `threshold` (id_a, id_b, jaccard).

    The feature table feeds three consumers (the signature DAG and both
    sides of the verification join), so it is checkpointed eagerly
    (construction-time jobs: the consumers land in one job, and concurrent
    stages double-compute a lazy intermediate)."""
    sets = _ngram_sets(df, id_col, text_col, None).localCheckpoint()
    return _jaccard_lsh(sets, id_col, threshold)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash(
    df: DataFrame, id_col: str, text_col: str, hash_family: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over the token+bigram set: per bit, majority vote of
    feature hashes (+1/-1); fingerprint assembles the positive bits. 64 bits
    keeps random-document hamming distances near 32, so a radius-3 search
    stays selective even over a small shared vocabulary.

    hash_family: "xxhash64" (default — JVM-native, no n-gram strings ever
    materialize; the production path) or "md5" (engine-portable, mirrors
    the q_dedup_minhash pattern so DuckDB can replicate the fingerprint
    bit-for-bit; materializes bigram strings — the conclusive-oracle pin,
    not the cheap path)."""
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"unknown simhash hash_family: {hash_family!r}")
    pre = ensure_parallelism(
        df.select(
            F.col(id_col), F.coalesce(normalize_text(text_col), F.lit("")).alias("__txt")
        )
    )
    toks = F.split(F.col("__txt"), "\\s+")
    if hash_family == "md5":
        feats = F.array_union(toks, ngrams(toks, 2))
        # Engine-portable 64-bit feature hash: the first 16 hex chars of
        # md5, assembled as (hi32 << 32) | lo32. Both halves fit a signed
        # long before the shift, and the assembled bit pattern equals
        # DuckDB's (CAST('0x'||substr(md5(f),1,8) AS UBIGINT) << 32) | lo
        # — signed-vs-unsigned container differs, bit pattern (all that
        # SimHash uses) does not.
        # r12: the pre-r12 single-transform form referenced md5(f) twice
        # (hi and lo halves) and HOF lambdas are interpreted with NO
        # common-subexpression elimination, so every feature was
        # md5-hashed twice (visible verbatim in the committed r11 plan).
        # Chaining two transforms hashes once per feature and slices the
        # hex string in the second pass — bit-identical output
        # (interleaved A/B on q_dedup_simhash: 3.996 -> 2.836 s min).
        hashed = F.transform(
            F.transform(feats, F.md5),
            lambda m: F.shiftleft(
                F.conv(F.substring(m, 1, 8), 16, 10).cast("long"), 32
            ).bitwiseOR(F.conv(F.substring(m, 9, 8), 16, 10).cast("long")),
        )
    else:
        hashed = F.array_union(
            F.array_distinct(F.transform(toks, lambda x: F.xxhash64(x))),
            F.array_distinct(ngram_hashes(toks)),
        )
    base = pre.select(F.col(id_col), hashed.alias("__f")).withColumn("__n", F.size("__f"))
    # ZERO-shuffle: each bit's majority is a per-row filter-count over the
    # hashed array, folded over the bit positions in ONE parsed expression
    # (no explode, no 64-column aggregate, and a build cost in py4j round
    # trips that does not grow with the width). shiftleft wraps to the sign
    # bit at i=63, which is exactly the mask we want.
    fingerprint = F.expr(
        f"aggregate(sequence(0, {SIMHASH_BITS - 1}), 0L, (acc, i) -> acc | "
        "IF(size(filter(__f, v -> (v & shiftleft(1L, i)) != 0)) * 2 > __n, "
        "shiftleft(1L, i), 0L))"
    )
    return base.select(id_col, fingerprint.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Banding the 64-bit fingerprint into (max_hamming+1) 16-bit bands gives the
    pigeonhole guarantee: any pair within the radius shares at least one
    exact band — candidates come from the gated in-bucket pair expansion
    shared with MinHash-LSH, never a cross join."""
    bands = max_hamming + 1
    width = SIMHASH_BITS // bands
    fp = simhash(df, id_col, text_col, hash_family=hash_family)
    banded = fp.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias(f"band{b}")
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    return (
        _bucket_pairs(
            banded,
            ["band_idx", "band_val"],
            F.struct(F.col(id_col), F.col("simhash")),
            lambda x, y: F.struct(
                x[id_col].alias("id_a"),
                y[id_col].alias("id_b"),
                F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
            ),
        )
        .select("__p.id_a", "__p.id_b", "__p.hamming")
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# Word n-gram Jaccard (blocked exhaustive — oracle-checkable)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Blocked pairwise word-bigram-set Jaccard at `threshold` — exact on
    both candidate-generation plans, which are routed by corpus size
    (`EXHAUSTIVE_MAX_DOCS`):

    - exhaustive (at or below the cap): blocked self-join with size-ratio
      pruning and short-circuited intersect. Catalyst picks the join
      strategy by its size estimate (auto-broadcast while the block table
      fits, shuffle join on the block/bucket equi-keys beyond that). Wins
      when the vocabulary is dense (synthetic fixtures: every feature is
      common, so rarity-based pruning has nothing to grip).
    - prefix (above the cap): AllPairs/PPJoin prefix filtering —
      candidates only from pairs sharing one of each doc's
      globally-rarest features. Near-linear on realistic Zipf-distributed
      corpora at cluster scale, where the exhaustive quadratic is
      intractable and rare features are truly rare.

    Word bigrams capture local order, which keeps Jaccard discriminative
    even over a small shared vocabulary (unigram sets saturate). Deterministic and SQL-replicable (unlike LSH), so it serves
    as the oracle-checked member of the near-dup family.

    The feature table is checkpointed: every candidate branch consumes it
    at least twice (both sides of the blocked self-join; the LSH branch
    three times), so without truncation the extraction pipeline re-runs
    per consumer (r11 A/B: -8% min over the dedup family at sf0.1; at
    scale it is the materialize-the-fingerprints step of guide §8).
    The checkpoint is EAGER (construction-time jobs — concurrent consumers
    make lazy unsafe)."""
    sets = _ngram_sets(df, id_col, text_col, block_col).localCheckpoint()
    # Both branches are EXACT (prefix filtering loses no recall), so the
    # routing never changes the result set — only the candidate plan.
    # Exhaustive wins below the threshold (dense small corpora, and it is
    # the shape the SQL oracle replicates); AllPairs prefix filtering is
    # the near-linear path on Zipf-distributed corpora where the blocked
    # quadratic is intractable.
    if _fits_exhaustive(df):
        # Both branches exact -> never approximate; DEBUG record only.
        log_route("ngram_jaccard_pairs", "exhaustive", approximate=False)
        return _jaccard_exhaustive(sets, id_col, threshold)
    log_route("ngram_jaccard_pairs", "prefix", approximate=False)
    return _jaccard_prefix(sets, id_col, threshold)


# Corpus-size routing threshold for the near-dup edge builders. Below it the
# exhaustive blocked quadratic is fine (and is what the DuckDB oracles
# replicate); above it the candidate plan switches to prefix filtering
# (exact) or MinHash-LSH (recall-bounded) depending on the caller. The
# count() at plan-build is a parquet-metadata action on the raw input —
# same accepted tiny-scalar class as knn_graph_ann's plane sizing.
EXHAUSTIVE_MAX_DOCS = 20_000


def _fits_exhaustive(df: DataFrame) -> bool:
    return routing_count(df) <= EXHAUSTIVE_MAX_DOCS


def near_dup_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Near-duplicate candidate EDGES (id_a < id_b, jaccard) for the
    graph/cluster consumers (connected components, canonical keep,
    SoftDeDup weights, PageRank/LPA, leakage checks).

    Routing by corpus size is the 100 TB contract (VERDICT r2 #2): at or
    below `EXHAUSTIVE_MAX_DOCS` it builds the exact exhaustive
    blocked-Jaccard graph — bit-identical to the SQL oracles — and above
    it switches to MinHash-LSH candidate generation over the SAME hashed
    bigram sets, verified with the SAME exact Jaccard (precision 1.0,
    recall per the LSH S-curve in the module docstring; every surviving
    edge carries a value identical to what the exhaustive plan would
    emit). Candidate cost goes from quadratic-per-block to near-linear
    bucket expansion with the MAX_BUCKET cap.

    Feature table checkpointed eagerly for the same multi-consumer reason
    as ngram_jaccard_pairs."""
    sets = _ngram_sets(df, id_col, text_col, block_col).localCheckpoint()
    if _fits_exhaustive(df):
        log_route("near_dup_edges", "exhaustive", approximate=False)
        return _jaccard_exhaustive(sets, id_col, threshold)
    log_route("near_dup_edges", "lsh", approximate=True)
    return _jaccard_lsh(sets, id_col, threshold)


def _jaccard_lsh(sets: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """MinHash-LSH candidates over the hashed n-gram sets, exact-verified:
    every pair LSH surfaces carries the jaccard the exhaustive plan would
    emit. Bands don't see `__blk`, so cross-block candidates are possible
    but sparse, and verification drops them."""
    cands = (
        _bucket_pairs(
            _banded(sets, id_col),
            ["band_idx", "band_hash"],
            F.col(id_col),
            lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b")),
        )
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )
    return _verify(cands, sets, sets, id_col, threshold)


def _ngram_sets(
    df: DataFrame, id_col: str, text_col: str, block_col: str | None
) -> DataFrame:
    """(id, __blk, __set, __len) hashed-bigram feature table; block_col=None
    puts every document in one block.

    Hash each bigram to a long up front: set intersection over longs is
    several times cheaper than over strings, and Jaccard only needs
    identity, not content. Word bigrams stay discriminative over small
    vocabularies, where character shingles of unrelated documents overlap
    heavily and flood LSH with candidates.
    Stage discipline (this was a 10x bug, visible only in the plan):
    1. Repartition the RAW rows first — `repartition()` sits above its
       child, so projecting features before it would run the whole
       tokenize->bigram->hash pipeline inside the single-split scan stage
       on one core, then shuffle the finished arrays.
    2. Coalesce text/block to non-nullable before deriving features: the
       optimizer infers IsNotNull(<join key>) for derived keys and pushes
       it below the exchange with the FULL feature expression inlined —
       doubling the single-core work. Non-nullable inputs mean no
       inferred null filters at all.
    3. __len derives from the ALIASED __set column, not a second copy of
       the feature expression — a repeated expression tree here is
       recomputed per row once anything defeats subexpression elimination.
    """
    blk = F.lit("") if block_col is None else F.coalesce(F.col(block_col), F.lit(""))
    pre = ensure_parallelism(
        df.select(
            F.col(id_col),
            blk.alias("__blk"),
            # tokenized as a REAL column: ngram_hashes reads the token
            # array four times, and a derived expression there would
            # re-split on each read; a bound attribute is split once
            F.split(F.coalesce(normalize_text(text_col), F.lit("")), "\\s+").alias(
                "__tk"
            ),
        )
    )
    hashed = F.array_distinct(ngram_hashes(F.col("__tk")))
    return pre.select(F.col(id_col), F.col("__blk"), hashed.alias("__set")).withColumn(
        "__len", F.size("__set")
    )


def incremental_jaccard_pairs(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """Asymmetric near-dup join for incremental ingest: which INCOMING
    documents are near-duplicates of the EXISTING corpus — the daily-batch
    pattern where re-running all-pairs dedup over corpus+delta would redo
    quadratic(corpus) work for a delta-sized question.

    Same blocked size-bucketed join as ngram_jaccard_pairs, but
    existing x incoming only (no existing-existing or incoming-incoming
    pairs, no id ordering needed). At scale the small delta side
    auto-broadcasts under Catalyst's size estimate, so the big corpus is
    never shuffled; when the delta is also large, the join shuffles on the
    (__blk, __bkt) equi-keys with AQE skew splitting.
    Returns (id_exist, id_new, jaccard) for pairs at/above threshold.

    It keeps this exact size-bucketed plan while corpus+delta fit
    EXHAUSTIVE_MAX_DOCS and switches to the asymmetric MinHash-LSH
    candidate plan above it (band hashes computed
    per side, equi-join on (band, hash), exact verification — identical
    jaccard on every surviving pair, recall S-curve-bounded): at dense
    duplicate density the bucketed exact join degrades toward
    corpus-quadratic (measured 653 s at 500k x 500k replicated docs; the
    LSH plan is candidate-linear)."""
    sa = _ngram_sets(existing, id_col, text_col, block_col)
    sb = _ngram_sets(incoming, id_col, text_col, block_col)
    if routing_count(existing) + routing_count(incoming) > EXHAUSTIVE_MAX_DOCS:
        log_route("incremental_jaccard_pairs", "lsh", approximate=True)
        return _incremental_lsh(sa, sb, id_col, threshold)
    log_route("incremental_jaccard_pairs", "exact", approximate=False)
    return _jaccard_exhaustive(sa, id_col, threshold, incoming=sb)


def _banded(sets: DataFrame, id_col: str) -> DataFrame:
    """(id, band_idx, band_hash): the signature cut into LSH_BANDS bands
    of r = MINHASH_HASHES / LSH_BANDS rows, one output row per band."""
    r = MINHASH_HASHES // LSH_BANDS
    bands = ", ".join(
        f"xxhash64({', '.join(f'h{b * r + i}' for i in range(r))}, {b})"
        for b in range(LSH_BANDS)
    )
    return minhash_signatures(sets, id_col).select(
        id_col, F.expr(f"posexplode(array({bands})) AS (band_idx, band_hash)")
    )


def _incremental_lsh(
    sa: DataFrame, sb: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Asymmetric LSH candidates: corpus and delta are banded separately,
    candidates come from the (band_idx, band_hash) equi-join — shuffle
    volume is rows x bands on each side, never corpus x corpus — and every
    candidate is verified with the same exact Jaccard as the exact plan.
    distinct() collapses multi-band collisions."""
    ba = _banded(sa, id_col).select(
        F.col(id_col).alias("id_exist"), "band_idx", "band_hash"
    )
    bb = _banded(sb, id_col).select(
        F.col(id_col).alias("id_new"), "band_idx", "band_hash"
    )
    cands = ba.join(bb, ["band_idx", "band_hash"]).select("id_exist", "id_new").distinct()
    return _verify(cands, sa, sb, id_col, threshold)


def _jaccard_exhaustive(
    sets: DataFrame, id_col: str, threshold: float, incoming: DataFrame | None = None
) -> DataFrame:
    """Size-bucketed exact join: the self-join of `sets` (id_a < id_b)
    when `incoming` is None, else sets x incoming (id_exist, id_new)."""
    # Length filter (set-similarity-join standard): J >= t forces
    # min(|A|,|B|) >= t*max(|A|,|B|), so in log_{1/t}(len) space a true
    # pair's buckets differ by at most 1. The build side is exploded to
    # (bucket-1, bucket, bucket+1); joining on bucket EQUALITY then means
    # size-incompatible pairs never even iterate — they are pruned by the
    # hash lookup, not per-pair evaluation.
    log_base = math.log(1.0 / threshold)
    bucket = F.floor(F.log(F.greatest(F.col("__len"), F.lit(1)).cast("double")) / log_base)
    # No broadcast hint: the build side is the whole block table. Catalyst
    # auto-broadcasts it while its size estimate fits (the win at small SF)
    # and falls back to a shuffle join on the (__blk, __bkt) equi-keys at
    # scale, where AQE skew splitting keeps big blocks parallel.
    # `sets` is already spread by the caller's ensure_parallelism on the
    # raw rows — a second guard here would both re-probe and re-shuffle.
    a = sets.withColumn("__bkt", bucket).alias("a")
    b = (sets if incoming is None else incoming).withColumn(
        "__bkt", F.explode(F.array(bucket - 1, bucket, bucket + 1))
    ).alias("b")
    la, lb = F.col("a.__len"), F.col("b.__len")
    inter = F.size(F.array_intersect("a.__set", "b.__set")).cast("double")
    j = inter / (la + lb - inter)  # |A∪B| = |A|+|B|-|A∩B|
    # The ENTIRE predicate lives in the join condition, cheap conjuncts
    # first: codegen short-circuits left-to-right, so the intersect only
    # runs for pairs passing (id order, exact size-ratio). A post-join
    # .where() would be merged AHEAD of the cheap conjuncts by
    # PushPredicateThroughJoin (observed in the plan). The threshold is
    # applied in linear form (inter*(1+t) >= t*(|A|+|B|)) so the intersect
    # appears once; the output jaccard uses the division form, identical
    # to the SQL oracle.
    cond = (F.col("a.__blk") == F.col("b.__blk")) & (F.col("a.__bkt") == F.col("b.__bkt"))
    if incoming is None:
        cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    # NB: no single-side predicates here — a probe-only conjunct (e.g.
    # `la > 0`) gets pushed below the exchange into the scan stage with
    # the entire feature expression inlined, re-running extraction on
    # one core. Both-side conjuncts stay in the join. least(la,lb) > 0
    # is such a conjunct: docs with no features (under 2 tokens) have
    # undefined Jaccard and must not pair — without it an empty-empty
    # pair passes the ratio filter and the output division is 0/0
    # (DIVIDE_BY_ZERO under ANSI; pinned by tests/test_edges.py).
    cond = (
        cond
        & (F.least(la, lb) > 0)
        & (F.least(la, lb) >= F.lit(threshold) * F.greatest(la, lb))
        & (inter * (1.0 + threshold) >= F.lit(threshold) * (la + lb))
    )
    ids = ("id_a", "id_b") if incoming is None else ("id_exist", "id_new")
    return a.join(b, cond).select(
        F.col(f"a.{id_col}").alias(ids[0]),
        F.col(f"b.{id_col}").alias(ids[1]),
        j.alias("jaccard"),
    )


def _jaccard_prefix(sets: DataFrame, id_col: str, threshold: float) -> DataFrame:
    # -- Prefix filtering (AllPairs/PPJoin family) -------------------------
    # Exact (no recall loss): order every doc's features by global rarity
    # (document frequency, then hash as tiebreak) and keep each doc's
    # "prefix" — its ⌊(1-t)·|A|⌋+2 rarest features. Theorem: two sets with
    # J >= t MUST share at least one prefix feature under a common global
    # order (if the prefixes were disjoint, the overlap could not reach t).
    # Candidates therefore come from an equi-join on rare features instead
    # of an O(n²) blocked cross product; rare features have tiny document
    # frequency, so the join fan-out stays near-linear.
    prefix_len = F.floor(F.lit(1.0 - threshold) * F.col("__len")).cast("int") + 2

    exploded = sets.select(id_col, "__blk", "__len", F.explode("__set").alias("__h"))
    docfreq = exploded.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        exploded.join(docfreq, "__h")
        .groupBy(id_col, "__blk", "__len")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__h"))).alias("__ranked"))
    )
    prefixes = ranked.select(
        id_col,
        "__blk",
        F.explode(F.slice(F.transform("__ranked", lambda s: s["__h"]), F.lit(1), prefix_len)).alias(
            "__h"
        ),
    )
    pa, pb = prefixes.alias("pa"), prefixes.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.__h") == F.col("pb.__h"))
            & (F.col("pa.__blk") == F.col("pb.__blk"))
            & (F.col(f"pa.{id_col}") < F.col(f"pb.{id_col}")),
        )
        .select(
            F.col(f"pa.{id_col}").alias("id_a"), F.col(f"pb.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return _verify(cand, sets, sets, id_col, threshold)


# --------------------------------------------------------------------------
# Pair resolution: near-dup pairs -> surviving rows
# --------------------------------------------------------------------------


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Resolve near-dup pairs into a deduplicated dataset: every id that
    appears as the GREATER member of a pair is dropped, keeping the
    lowest-id representative of each duplicate cluster (pairs carry
    id_a < id_b, so min-side survivors are stable without iterative
    connected components — for chains a<b<c both b and c name a smaller
    partner and drop out). One anti-join on id; Catalyst broadcasts the
    loser set only while its measured size fits."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")
