"""Deduplication operators for training-data pipelines (SURVEY.md Tier C
q_dedup_*): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the whole point at 100TB):
- Exact dedup is ONE hash shuffle on the dedup key (window keep-first), not
  a global sort.
- MinHash signatures are ZERO-shuffle: per-row array_min(transform(...))
  folds over hashed feature arrays; LSH banding turns the O(n²) candidate
  space into bucket-grouped pair expansion (one DAG evaluation, oversized
  buckets dropped). Candidates are then verified with exact Jaccard so
  precision is 1.0 (recall bounded by the LSH S-curve).
- SimHash is likewise per-row: 64 bit-majority filter-counts over the
  hashed token+bigram array; near-dup pairs come from banding the
  fingerprint into 16-bit bands (pigeonhole: hamming<=3 on 4 bands
  guarantees one equal band) and verifying with bit_count(xor).
- No Python UDFs anywhere — everything is codegen'd Column algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import char_shingles, normalize_text
from ..plans.tuning import (
    ensure_parallelism,
    log_route,
    materialize_once,
    routing_count,
)


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


def feature_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    feature: str = "bigram",
    shingle_size: int = 5,
) -> DataFrame:
    """(id, __feat: array<long>) — the document's dedup feature set, hashed
    to longs up front (identity is all Jaccard needs; long set ops are
    several times cheaper than string set ops).

    feature="bigram": word bigrams — order-sensitive, stays discriminative
    over small vocabularies (char shingles from a ~45-word vocabulary
    overlap heavily between unrelated documents, which floods LSH with
    false candidates).
    feature="char": classic character shingles of `shingle_size`.
    """
    from ..functions.text import ngram_hashes

    pre = ensure_parallelism(
        df.select(
            F.col(id_col),
            F.coalesce(normalize_text(text_col), F.lit("")).alias("__txt"),
        )
    )
    toks = F.split(F.col("__txt"), "\\s+")
    if feature == "bigram":
        hashes = ngram_hashes(toks, 2)
    elif feature == "char":
        hashes = F.transform(char_shingles(F.col("__txt"), shingle_size), lambda g: F.xxhash64(g))
    else:
        raise ValueError(f"unknown feature mode: {feature}")
    return pre.select(F.col(id_col), F.array_distinct(hashes).alias("__feat"))


def minhash_signatures(
    feats: DataFrame, id_col: str, num_hashes: int = 64
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature per document from its feature set.

    ZERO-shuffle formulation: each h_i is `array_min(transform(feat, x ->
    hash(x, i)))` — a per-row fold over the (already materialized) feature
    array, embarrassingly parallel and fully codegen'd. An explode+groupBy
    would pay a 64-column hash-aggregate for no benefit."""
    sig_cols = [
        F.array_min(
            F.transform(F.col("__feat"), lambda x, i=i: F.hash(x, F.lit(i)))
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return feats.select(id_col, *sig_cols)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, num_hashes: int = 64, bands: int = 16
) -> DataFrame:
    """Band the signature into `bands` groups of r=k/b rows; docs sharing any
    band hash become candidate pairs (id_a < id_b, distinct)."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.xxhash64(*[F.col(f"h{b * rows_per_band + i}") for i in range(rows_per_band)], F.lit(b)).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = signatures.select(id_col, *band_cols)
    exploded = banded.select(
        id_col,
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )
    # Group each LSH bucket and emit its pairs directly: evaluates the
    # signature DAG ONCE (a self-join would compute it twice) and turns the
    # candidate step into one aggregation. Buckets above `max_bucket` are
    # dropped — an oversized bucket means a non-discriminative band hash,
    # and its quadratic pair list would dominate cost for no precision.
    # The size gate runs BEFORE any list materializes (r7, the
    # knn_graph_ann multiplicity lesson): counts first via a map-side-
    # combined aggregate, then collect_list only over rows of qualifying
    # buckets — the old collect-then-filter form buffered a whole
    # oversized bucket in ONE aggregation buffer, so a million-copy
    # boilerplate cluster was an executor OOM, not just wasted work. Both
    # aggregates and the join share the (band_idx, band_hash)
    # partitioning, so this costs no extra exchange of the exploded rows.
    # CAVEAT the drop implies (documented, not silent): docs whose FULL
    # signature is identical collide in EVERY band, so a >max_bucket
    # duplicate cluster has no smaller bucket to fall back to and emits
    # no pairs — run exact dedup (dedup_exact / chunk hashing) upstream,
    # which is the pipeline order the curation queries use; for merely
    # near-identical docs the usual escape holds (some band hash differs,
    # giving a smaller discriminative bucket).
    max_bucket = 1000
    # a WINDOW count over the same (band) partitioning gates the size with
    # ONE evaluation of the signature DAG and ONE exchange (the window and
    # the collect aggregate share it): a count-aggregate + join form
    # evaluated the signatures twice, a collect-then-filter form buffered
    # the oversized bucket before dropping it
    bw = Window.partitionBy("band_idx", "band_hash")
    gated = exploded.withColumn("__bn", F.count(F.lit(1)).over(bw)).where(
        F.col("__bn").between(2, max_bucket)
    )
    buckets = gated.groupBy("band_idx", "band_hash").agg(
        F.sort_array(F.collect_list(id_col)).alias("__ids")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + 2, F.size("__ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("__p"))
        .select(F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b"))
        .distinct()
    )


def exact_jaccard(
    feats: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Attach exact feature-set Jaccard to candidate pairs (verification
    step — precision 1.0). The feature-set side is the FULL corpus, so it
    gets no broadcast hint: these are ordinary equi-joins on id where
    Catalyst auto-broadcasts only when its size estimate says the build side
    fits, and shuffles on id otherwise (candidates after LSH are sparse, so
    the shuffle is proportional to the candidate count, not n^2)."""
    sets = feats.select(F.col(id_col), F.col("__feat").alias("__set"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = F.size("set_a") + F.size("set_b") - inter
    # Guarded division: two featureless docs (possible LSH bucket-mates via
    # equal empty-set signatures) have undefined Jaccard — emit NULL, which
    # every downstream `>= threshold` filter drops, instead of tripping
    # ANSI DIVIDE_BY_ZERO.
    return (
        pairs.join(
            sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("__set", "set_a"),
            "id_a",
        )
        .join(
            sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("__set", "set_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.when(union > 0, inter / union).alias("jaccard"),
        )
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    feature: str = "bigram",
    shingle_size: int = 5,
) -> DataFrame:
    """Full near-dedup pipeline: feature sets -> signatures -> LSH
    candidates -> exact verification at `threshold`."""
    # The hashed feature table feeds THREE consumers (the signature DAG and
    # both sides of the verification join); materialize it once so the
    # tokenize->hash extraction runs once, not three times — the guide-§8
    # "fingerprints only" intermediate. r11 A/B over the dedup family at
    # sf0.1: -8% min / -12% median, broadcast strategies unchanged.
    # materialize_once executes Spark jobs at CONSTRUCTION time (eager) —
    # plan-capture callers pay the extraction before any action; eager is
    # required because the consumers land in one job (concurrent stages
    # double-compute a lazy intermediate). Scale strategy per VERDICT r11
    # #5: env-gated in plans/tuning.py (localCheckpoint default,
    # fault-tolerant persist at SPARK_GRAFT_MATERIALIZE=persist).
    feats = materialize_once(feature_sets(df, id_col, text_col, feature, shingle_size))
    sigs = minhash_signatures(feats, id_col, num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    return exact_jaccard(feats, cands, id_col).where(F.col("jaccard") >= threshold)


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
    from ..functions.text import ngram_hashes, ngrams

    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"unknown simhash hash_family: {hash_family!r}")
    one = F.lit(1).cast("long")
    # ZERO-shuffle: hash the feature set once per row, then each bit's
    # majority is a per-row filter-count over the hashed array — no explode,
    # no 64-column aggregate, fully codegen'd. Features are hashed token +
    # token-bigram longs (no n-gram strings ever materialize).
    # (shiftleft wraps to the sign bit at i=63, which is exactly the mask we
    # want; a 1<<63 literal would overflow the long.)
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
            F.array_distinct(ngram_hashes(toks, 2)),
        )
    base = pre.select(F.col(id_col), hashed.alias("__f")).withColumn("__n", F.size("__f"))
    fingerprint = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        mask = F.shiftleft(one, i)
        pos = F.size(F.filter(F.col("__f"), lambda v: v.bitwiseAND(mask) != 0))
        fingerprint = fingerprint.bitwiseOR(
            F.when(pos * 2 > F.col("__n"), mask).otherwise(F.lit(0).cast("long"))
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
    exact band — candidates come from equality joins, never a cross join."""
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
    # Bucket-group + in-bucket pair expansion: one evaluation of the simhash
    # DAG (vs two for a self-join); oversized buckets dropped as
    # non-discriminative (same rationale — and same count-before-collect
    # OOM discipline — as lsh_candidate_pairs: the size gate must run
    # before any bucket list materializes, or one duplicate mega-cluster
    # buffers whole in a single aggregation buffer).
    bw = Window.partitionBy("band_idx", "band_val")
    gated = banded.withColumn("__bn", F.count(F.lit(1)).over(bw)).where(
        F.col("__bn").between(2, 1000)
    )
    buckets = gated.groupBy("band_idx", "band_val").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col), F.col("simhash")))
        ).alias("__m")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("__m"),
            lambda x, i: F.transform(
                F.slice(F.col("__m"), i + 2, F.size("__m")),
                lambda y: F.struct(
                    x[id_col].alias("id_a"),
                    y[id_col].alias("id_b"),
                    F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("__p"))
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
    n: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Blocked pairwise word-n-gram-set Jaccard at `threshold` — exact
    under every strategy; `strategy` picks the candidate-generation plan
    ("auto" routes by corpus size, see below):

    - "exhaustive": blocked self-join with size-ratio pruning and
      short-circuited intersect. Catalyst picks the join strategy by its
      size estimate (auto-broadcast while the block table fits, shuffle join
      on the block/bucket equi-keys beyond that). Wins when the vocabulary
      is dense (synthetic fixtures: every feature is common, so rarity-based
      pruning has nothing to grip).
    - "prefix": AllPairs/PPJoin prefix filtering — candidates only from
      pairs sharing one of each doc's globally-rarest features. Near-linear
      on realistic Zipf-distributed corpora at cluster scale, where the
      exhaustive quadratic is intractable and rare features are truly rare.

    Word n-grams (default bigrams) capture local order, which keeps Jaccard
    discriminative even over a small shared vocabulary (unigram sets
    saturate). Deterministic and SQL-replicable (unlike LSH), so it serves
    as the oracle-checked member of the near-dup family.

    The feature table is checkpointed: every candidate branch consumes it
    at least twice (both sides of the blocked self-join; the LSH branch
    three times), so without truncation the extraction pipeline re-runs
    per consumer (r11 A/B: -8% min over the dedup family at sf0.1; at
    scale it is the materialize-the-fingerprints step of guide §8).
    Materialization is EAGER (construction-time jobs — concurrent
    consumers make lazy unsafe) and env-gated for fault tolerance at
    scale (plans/tuning.materialize_once, VERDICT r11 #5)."""
    sets = materialize_once(_ngram_sets(df, id_col, text_col, block_col, n))
    if strategy == "auto":
        # Both branches are EXACT (prefix filtering loses no recall), so
        # auto-routing never changes the result set — only the candidate
        # plan. Exhaustive wins below the threshold (dense small corpora,
        # and it is the shape the SQL oracle replicates); AllPairs prefix
        # filtering is the near-linear path on Zipf-distributed corpora
        # where the blocked quadratic is intractable.
        strategy = (
            "exhaustive" if _fits_exhaustive(df) else "prefix"
        )
        # Both branches exact -> never approximate; DEBUG record only.
        log_route("ngram_jaccard_pairs", strategy, approximate=False)
    if strategy == "exhaustive":
        return _jaccard_exhaustive(sets, id_col, threshold)
    if strategy == "prefix":
        return _jaccard_prefix(sets, id_col, threshold)
    raise ValueError(f"unknown strategy: {strategy}")


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
    n: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Near-duplicate candidate EDGES (id_a < id_b, jaccard) for the
    graph/cluster consumers (connected components, canonical keep,
    SoftDeDup weights, PageRank/LPA, leakage checks).

    strategy="auto" is the 100 TB routing contract (VERDICT r2 #2): below
    `EXHAUSTIVE_MAX_DOCS` it builds the exact exhaustive
    blocked-Jaccard graph — bit-identical to the SQL oracles — and above
    it switches to MinHash-LSH candidate generation over the SAME hashed
    n-gram sets, verified with the SAME exact Jaccard (precision 1.0,
    recall bounded by the LSH S-curve; every surviving edge carries a
    value identical to what the exhaustive plan would emit). Candidate
    cost goes from quadratic-per-block to near-linear bucket expansion
    with the 1000-row bucket cap.

    Feature table materialized once for the same multi-consumer reason as
    ngram_jaccard_pairs (r11; eager + env-gated, see materialize_once)."""
    sets = materialize_once(_ngram_sets(df, id_col, text_col, block_col, n))
    if strategy == "auto":
        strategy = "exhaustive" if _fits_exhaustive(df) else "lsh"
        log_route("near_dup_edges", strategy, approximate=strategy == "lsh")
    if strategy == "exhaustive":
        return _jaccard_exhaustive(sets, id_col, threshold)
    if strategy == "prefix":
        return _jaccard_prefix(sets, id_col, threshold)
    if strategy == "lsh":
        return _jaccard_lsh(sets, id_col, threshold)
    raise ValueError(f"unknown strategy: {strategy}")


def _jaccard_lsh(
    sets: DataFrame,
    id_col: str,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """MinHash-LSH candidates over the hashed n-gram sets, exact-verified.

    Reuses minhash_signatures/lsh_candidate_pairs on the `__set` arrays so
    the verified jaccard is IDENTICAL to the exhaustive plan's value for
    every pair LSH surfaces; block equality is enforced at verification
    (bands don't see `__blk`, so cross-block candidates are possible but
    sparse, and the verify join drops them)."""
    feats = sets.select(id_col, F.col("__set").alias("__feat"))
    sigs = minhash_signatures(feats, id_col, num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("__blk").alias("__blk_a"),
        F.col("__set").alias("set_a"),
        F.col("__len").alias("la"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("__blk").alias("__blk_b"),
        F.col("__set").alias("set_b"),
        F.col("__len").alias("lb"),
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    j = inter / (F.col("la") + F.col("lb") - inter)
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .where(
            (F.col("__blk_a") == F.col("__blk_b"))
            & (F.least(F.col("la"), F.col("lb")) > 0)
        )
        .select("id_a", "id_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _ngram_sets(
    df: DataFrame, id_col: str, text_col: str, block_col: str, n: int
) -> DataFrame:
    """(id, __blk, __set, __len) hashed-n-gram feature table.

    Hash each n-gram to a long up front: set intersection over longs is
    several times cheaper than over strings, and Jaccard only needs
    identity, not content.
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
    from ..functions.text import ngram_hashes

    pre = ensure_parallelism(
        df.select(
            F.col(id_col),
            F.coalesce(F.col(block_col), F.lit("")).alias("__blk"),
            # tokenized as a REAL column: ngram_hashes' general-n path
            # indexes the token array inside a lambda, and a derived
            # expression there would re-split per element (interpreted
            # HOF, no CSE — O(L²) per row); a bound attribute is O(1)
            F.split(F.coalesce(normalize_text(text_col), F.lit("")), "\\s+").alias(
                "__tk"
            ),
        )
    )
    hashed = F.array_distinct(ngram_hashes(F.col("__tk"), n))
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
    n: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Asymmetric near-dup join for incremental ingest: which INCOMING
    documents are near-duplicates of the EXISTING corpus — the daily-batch
    pattern where re-running all-pairs dedup over corpus+delta would redo
    quadratic(corpus) work for a delta-sized question.

    Same blocked size-bucketed machinery as ngram_jaccard_pairs, but the
    join is existing x incoming only (no existing-existing or
    incoming-incoming pairs, no id ordering needed). At scale the small
    delta side auto-broadcasts under Catalyst's size estimate, so the big
    corpus is never shuffled; when the delta is also large, the join
    shuffles on the (__blk, __bkt) equi-keys with AQE skew splitting.
    Returns (id_exist, id_new, jaccard) for pairs at/above threshold.

    strategy="auto" (the default) keeps this exact size-bucketed plan while
    corpus+delta fit EXHAUSTIVE_MAX_DOCS and switches to the
    asymmetric MinHash-LSH candidate plan above it (band hashes computed
    per side, equi-join on (band, hash), exact verification — identical
    jaccard on every surviving pair, recall S-curve-bounded): at dense
    duplicate density the bucketed exact join degrades toward
    corpus-quadratic (measured 653 s at 500k x 500k replicated docs; the
    LSH plan is candidate-linear)."""
    import math

    sa = _ngram_sets(existing, id_col, text_col, block_col, n)
    sb = _ngram_sets(incoming, id_col, text_col, block_col, n)
    if strategy == "auto":
        strategy = (
            "exact"
            if routing_count(existing) + routing_count(incoming) <= EXHAUSTIVE_MAX_DOCS
            else "lsh"
        )
        log_route(
            "incremental_jaccard_pairs", strategy, approximate=strategy == "lsh"
        )
    if strategy == "lsh":
        return _incremental_lsh(sa, sb, id_col, threshold)
    if strategy != "exact":
        raise ValueError(f"unknown strategy: {strategy}")
    log_base = math.log(1.0 / threshold)
    bucket = F.floor(
        F.log(F.greatest(F.col("__len"), F.lit(1)).cast("double")) / log_base
    )
    a = sa.withColumn("__bkt", bucket).alias("a")
    b = sb.withColumn(
        "__bkt", F.explode(F.array(bucket - 1, bucket, bucket + 1))
    ).alias("b")
    la, lb = F.col("a.__len"), F.col("b.__len")
    inter = F.size(F.array_intersect("a.__set", "b.__set")).cast("double")
    j = inter / (la + lb - inter)
    return a.join(
        b,
        (F.col("a.__blk") == F.col("b.__blk"))
        & (F.col("a.__bkt") == F.col("b.__bkt"))
        & (F.least(la, lb) > 0)
        & (F.least(la, lb) >= F.lit(threshold) * F.greatest(la, lb))
        & (inter * (1.0 + threshold) >= F.lit(threshold) * (la + lb)),
    ).select(
        F.col(f"a.{id_col}").alias("id_exist"),
        F.col(f"b.{id_col}").alias("id_new"),
        j.alias("jaccard"),
    )


def _banded(sets: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_idx, band_hash) from a hashed-feature-set frame — the LSH
    banding step shared by the symmetric and asymmetric candidate plans."""
    feats = sets.select(id_col, F.col("__set").alias("__feat"))
    sigs = minhash_signatures(feats, id_col, num_hashes)
    rows_per_band = num_hashes // bands
    band_cols = [
        F.xxhash64(
            *[F.col(f"h{b * rows_per_band + i}") for i in range(rows_per_band)],
            F.lit(b),
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sigs.select(id_col, *band_cols).select(
        id_col,
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )


def _incremental_lsh(
    sa: DataFrame,
    sb: DataFrame,
    id_col: str,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Asymmetric LSH candidates: corpus and delta are banded separately,
    candidates come from the (band_idx, band_hash) equi-join — shuffle
    volume is rows x bands on each side, never corpus x corpus — and every
    candidate is verified with the same exact Jaccard as the exact plan
    (plus block equality). distinct() collapses multi-band collisions."""
    ba = _banded(sa, id_col, num_hashes, bands).select(
        F.col(id_col).alias("id_exist"), "band_idx", "band_hash"
    )
    bb = _banded(sb, id_col, num_hashes, bands).select(
        F.col(id_col).alias("id_new"), "band_idx", "band_hash"
    )
    cands = ba.join(bb, ["band_idx", "band_hash"]).select("id_exist", "id_new").distinct()
    va = sa.select(
        F.col(id_col).alias("id_exist"),
        F.col("__blk").alias("__blk_a"),
        F.col("__set").alias("set_a"),
        F.col("__len").alias("la"),
    )
    vb = sb.select(
        F.col(id_col).alias("id_new"),
        F.col("__blk").alias("__blk_b"),
        F.col("__set").alias("set_b"),
        F.col("__len").alias("lb"),
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    j = inter / (F.col("la") + F.col("lb") - inter)
    return (
        cands.join(va, "id_exist")
        .join(vb, "id_new")
        .where(
            (F.col("__blk_a") == F.col("__blk_b"))
            & (F.least(F.col("la"), F.col("lb")) > 0)
        )
        .select("id_exist", "id_new", j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _jaccard_exhaustive(sets: DataFrame, id_col: str, threshold: float) -> DataFrame:
    import math

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
    b = sets.withColumn(
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
    # to the SQL oracle. Probe side spread across cores
    # (ensure_parallelism); join strategy left to Catalyst's size estimate
    # (auto-broadcast small, shuffle + AQE skew split large).
    return a.join(
        b,
        (F.col("a.__blk") == F.col("b.__blk"))
        & (F.col("a.__bkt") == F.col("b.__bkt"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # NB: no single-side predicates here — a probe-only conjunct (e.g.
        # `la > 0`) gets pushed below the exchange into the scan stage with
        # the entire feature expression inlined, re-running extraction on
        # one core. Both-side conjuncts stay in the join. least(la,lb) > 0
        # is such a conjunct: docs with no features (under 2 tokens) have
        # undefined Jaccard and must not pair — without it an empty-empty
        # pair passes the ratio filter and the output division is 0/0
        # (DIVIDE_BY_ZERO under ANSI; pinned by tests/test_edges.py).
        & (F.least(la, lb) > 0)
        & (F.least(la, lb) >= F.lit(threshold) * F.greatest(la, lb))
        & (inter * (1.0 + threshold) >= F.lit(threshold) * (la + lb)),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
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

    # -- Exact verification on the surviving candidates --------------------
    # Plain equi-joins on id (no broadcast hint): candidates are sparse, the
    # feature-set side is the full corpus — same sizing rationale as
    # exact_jaccard above.
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("__set").alias("set_a"), F.col("__len").alias("la")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("__set").alias("set_b"), F.col("__len").alias("lb")
    )
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    j = inter / (F.col("la") + F.col("lb") - inter)  # |A∪B| = |A|+|B|-|A∩B|
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


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
