"""Training-corpus curation queries (north-star family, wave 2): document
chunking, PII detection/redaction, intra-document repetition scoring, and
batched similarity search.

Reference parity note: the reference engine (EtlMain.kt:103-108) delegates
text transforms to its RDBMS; these queries are the Spark-native equivalents
of what a corpus pipeline runs between ingest and training — every one is
pure Column algebra (zero UDFs, zero shuffles except where the semantics
require one) and every one is DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    EMAIL_RE,
    PHONE_RE,
    chunked,
    ngrams,
    normalize_text,
    pii_counts,
    redact_pii,
    tokenize,
)
from ..functions.vectors import duck_cosine
from ..plans.tuning import ensure_parallelism
from .base import SQL_TOKS, emb, register, t


# --------------------------------------------------------------------------
# Document chunking: overlapping token windows (window=20, stride=15)
# --------------------------------------------------------------------------

_CHUNK_W, _CHUNK_S = 20, 15


@register(
    "q_text_chunk",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ), st AS (
        SELECT doc_id, tk,
               unnest(generate_series(0, len(tk) - 1, {_CHUNK_S})) AS start
        FROM toks
    )
    SELECT doc_id,
           start // {_CHUNK_S} AS chunk_id,
           start AS start_tok,
           len(list_slice(tk, start + 1, start + {_CHUNK_W})) AS chunk_tokens,
           md5(array_to_string(list_slice(tk, start + 1, start + {_CHUNK_W}), ' '))
               AS chunk_md5
    FROM st
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker: each document becomes ceil(n/stride)
    overlapping chunks of <= 20 tokens (stride 15). One posexplode of the
    lambda-free start-index sequence fans out, the chunk is sliced above
    the Generate (functions.text.chunked — zero shuffle, codegen'd);
    at 100 TB this is a map-only stage whose output partitioning inherits
    the scan's. Chunks are reported as md5 + token count so the grader's
    row stays narrow."""
    d = t(spark, sf_dir, "documents")
    ex = chunked(
        ensure_parallelism(d),
        tokenize(normalize_text("text")),
        _CHUNK_W,
        _CHUNK_S,
        keep=["doc_id"],
    )
    return ex.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.size("chunk").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# PII detection + redaction
# --------------------------------------------------------------------------

# The fixture corpus is a digit-free word salad, so PII is planted
# deterministically from doc_id (one email + one phone per document) —
# the regex surface is exercised for real, and the oracle plants the
# identical augmentation.
_SQL_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com or call 555-01' || "
    "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '.'"
)


def _augmented_text() -> F.Column:
    # F.concat, NOT concat_ws: a NULL document must stay NULL through the
    # augmentation (nothing to scan or redact), matching the oracle's
    # null-propagating || chain — concat_ws would silently swallow the NULL
    # and mint planted PII for a missing doc (fuzz_diff phase 3).
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-01"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(100)).cast("string"), 2, "0"),
        F.lit("."),
    )


@register(
    "q_text_pii",
    oracle=rf"""
    SELECT doc_id,
           len(regexp_extract_all(aug, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(aug, '{PHONE_RE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(aug, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM (SELECT doc_id, {_SQL_AUG} AS aug FROM documents)
    """,
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — detection counts per class plus the redacted text's
    fingerprint. Pure regexp Column algebra: a map-only stage that at scale
    fuses into the scan (no shuffle, no UDF); the pattern set is the
    standard email/phone pair, extensible by adding (regex, tag) pairs to
    functions.text."""
    d = t(spark, sf_dir, "documents")
    aug = d.select("doc_id", _augmented_text().alias("aug"))
    return aug.select(
        "doc_id",
        *pii_counts("aug"),
        F.md5(redact_pii("aug")).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# Intra-document repetition (quality signal a la Gopher's repetition filters)
# --------------------------------------------------------------------------


@register(
    "q_text_repetition",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ), g AS (
        SELECT doc_id, tk,
               list_transform(generate_series(1, len(tk) - 1),
                              i -> tk[i] || ' ' || tk[i+1]) AS bg
        FROM toks
    )
    , f AS (
        SELECT doc_id,
               CASE WHEN len(bg) > 0
                    THEN 1.0 - len(list_distinct(bg)) / len(bg)
                    ELSE 0.0 END AS dup_bigram_frac,
               CASE WHEN len(tk) > 0
                    THEN list_aggregate(list_transform(list_distinct(tk),
                                        w -> len(list_filter(tk, x -> x = w))),
                                        'max') / len(tk)
                    ELSE 0.0 END AS top_token_frac
        FROM g
    )
    SELECT doc_id, dup_bigram_frac, top_token_frac,
           dup_bigram_frac >= 0.30 OR top_token_frac >= 0.15 AS repetitive
    FROM f
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: fraction of duplicated word bigrams + most-common
    token mass, thresholded to a filter flag. Both signals are per-row
    column algebra (the token count is a per-row-adaptive
    histogram/sorted-run fold — see functions/text.py max_token_count), so
    the operator is map-only: no explode, no shuffle, at any corpus size."""
    d = t(spark, sf_dir, "documents")
    tk = tokenize(normalize_text("text"))
    base = ensure_parallelism(d).select("doc_id", tk.alias("tk"), ngrams(tk, 2).alias("bg"))
    # Max token frequency: per-ROW adaptive (functions/text.py
    # max_token_count) — transform-over-distinct histogram below 1024
    # tokens (measured 50 s vs 66 s sorted at 500k web-shaped docs, L≈56),
    # sorted-run O(L log L) above (book-length docs, where the O(L·V)
    # histogram explodes). Same exact integer either way; parity-pinned by
    # tests/test_routing.py.
    from ..functions.text import max_token_count

    # Degenerate rows (empty text -> no tokens; single-token text -> no
    # bigrams) score 0.0 on both signals instead of dividing by zero (ANSI
    # abort on Spark, NULL on DuckDB): an empty doc isn't *repetitive*,
    # it's the quality filter's problem. CaseWhen short-circuits, so the
    # division never evaluates on the guarded rows.
    dup_frac = F.when(
        F.size("bg") > 0,
        F.lit(1.0) - F.size(F.array_distinct("bg")) / F.size("bg"),
    ).otherwise(F.lit(0.0))
    top_frac = F.when(
        F.size("tk") > 0, max_token_count(F.col("tk")) / F.size("tk")
    ).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        dup_frac.alias("dup_bigram_frac"),
        top_frac.alias("top_token_frac"),
        ((dup_frac >= 0.30) | (top_frac >= 0.15)).alias("repetitive"),
    )


# --------------------------------------------------------------------------
# Batched similarity search: top-3 neighbors for a probe BATCH in one pass
# --------------------------------------------------------------------------


@register(
    "q_sim_batch",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0),
    p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 8),
    c AS (SELECT vec_id, e FROM v WHERE vec_id >= 8),
    scored AS (
        SELECT p.probe_id, c.vec_id,
               {duck_cosine('c.e', 'p.pe')} AS cosine
        FROM p CROSS JOIN c
    )
    SELECT probe_id, vec_id, cosine FROM (
        SELECT probe_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def q_sim_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors for each of 8 probe vectors in ONE candidate scan —
    the similarity-search-as-join form every retrieval pipeline batches
    into. The tournament plan (operators.similarity.batch_topk) keeps the
    shuffle at k rows per (probe, partition) instead of |probes| x |rows|."""
    from ..operators.similarity import batch_topk

    e = emb(spark, sf_dir).where(F.col("embedding").isNotNull())
    probes = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    cands = e.where(F.col("vec_id") >= 8)
    return batch_topk(
        cands, "embedding", "vec_id", probes, "probe_id", "probe_vec", k=3
    )


# --------------------------------------------------------------------------
# Stratified deterministic sampling (per-class keep rates)
# --------------------------------------------------------------------------

# hex-prefix thresholds out of 256: view 5%, click 10%, error 25%,
# signup 50%, purchase keep-all ('zz' compares above every hex digit).
_STRATA = (("view", "0d"), ("click", "1a"), ("error", "40"), ("signup", "80"))


@register(
    "q_sample_stratified",
    oracle=f"""
    SELECT event_id, event_type, value
    FROM events
    WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 2) <
          CASE event_type
               {" ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _STRATA)}
               ELSE 'zz' END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class deterministic downsampling — the class-rebalancing stage of
    a training pipeline (keep 5% of views but every purchase). Same
    portable md5-of-key predicate as q_sample_hash, with the threshold a
    per-stratum CASE: reproducible in any engine, embarrassingly parallel,
    filter runs at the scan. Changing rates later re-selects a SUPERSET /
    subset of the same rows (hash order is stable), which is what makes
    hash sampling auditable at 100 TB."""
    ev = t(spark, sf_dir, "events")
    thr = F.lit("zz")
    for k, v in reversed(_STRATA):
        thr = F.when(F.col("event_type") == k, F.lit(v)).otherwise(thr)
    keyhash = F.substring(F.md5(F.encode(F.col("event_id").cast("string"), "UTF-8")), 1, 2)
    return ev.where(keyhash < thr).select("event_id", "event_type", "value")


# --------------------------------------------------------------------------
# Skew-salted join (operators/skew.py) — value-parity with the plain join
# --------------------------------------------------------------------------


@register(
    "q_join_skew_salted",
    oracle="""
    WITH dim AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS type_avg
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value, d.type_avg
    FROM events e JOIN dim d USING (event_type)
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side skew: event_type has 5 values, so a plain shuffle join
    lands 600 M rows/key-group at the 100 TB scale on 5 reducers. The
    salted join spreads each type over 16 reducers (salt from the event's
    primary key) and replicates the 5-row dim x16 — value-identical to the
    plain join, pinned by the oracle."""
    from ..operators.skew import salted_join

    ev = t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias(
            "type_avg"
        )
    )
    return salted_join(
        ev.select("event_id", "event_type", "value"),
        dim,
        on=["event_type"],
        salt_src=["event_id"],
        how="inner",
        n_salts=16,
    ).select("event_id", "event_type", "value", "type_avg")


# --------------------------------------------------------------------------
# Chunk-granularity dedup: chunk -> fingerprint -> keep-first across corpus
# --------------------------------------------------------------------------


@register(
    "q_chunk_dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ), st AS (
        SELECT doc_id, tk,
               unnest(generate_series(0, len(tk) - 1, {_CHUNK_S})) AS start
        FROM toks
    ), chunks AS (
        SELECT doc_id, start // {_CHUNK_S} AS chunk_id,
               md5(array_to_string(list_slice(tk, start + 1, start + {_CHUNK_W}), ' '))
                   AS chunk_md5
        FROM st
    ), keep AS (
        SELECT doc_id, chunk_id, chunk_md5,
               ROW_NUMBER() OVER (PARTITION BY chunk_md5
                                  ORDER BY doc_id ASC, chunk_id ASC) AS rn
        FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks
    FROM keep GROUP BY doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity exact dedup — the training-data pattern that
    catches boilerplate SHARED ACROSS documents that doc-level dedup
    misses: chunk every doc (map-only), fingerprint each chunk, keep the
    first occurrence corpus-wide (one hash shuffle on the fingerprint),
    report per-doc survival. Composition of two already-oracled operators
    (chunked + keep-first window)."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    chunks = chunked(
        ensure_parallelism(d),
        tokenize(normalize_text("text")),
        _CHUNK_W,
        _CHUNK_S,
        keep=["doc_id"],
    ).select(
        "doc_id",
        "chunk_id",
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_md5"),
    )
    w = Window.partitionBy("chunk_md5").orderBy(
        F.col("doc_id").asc(), F.col("chunk_id").asc()
    )
    keep = chunks.withColumn("rn", F.row_number().over(w))
    return keep.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("kept_chunks"),
    )


# --------------------------------------------------------------------------
# TF-IDF: corpus document frequencies joined back to per-doc term counts
# --------------------------------------------------------------------------


@register(
    "q_text_tfidf",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), tf AS (
        SELECT doc_id, t.w AS term, COUNT(*) AS tf
        FROM toks, unnest(tk) AS t(w)
        GROUP BY doc_id, t.w
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    )
    SELECT tf.doc_id, tf.term, tf.tf,
           CAST(floor((ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0)
                      * 1000000 + 0.5) AS BIGINT) AS idf_ppm,
           CAST(floor(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0)
                      * 1000000 + 0.5) AS BIGINT) AS tfidf_ppm
    FROM tf JOIN df USING (term) CROSS JOIN n
    WHERE tf.tf >= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed, sklearn-style idf = ln((1+N)/(1+df)) + 1): the
    two-pass corpus statistic behind keyword extraction and sparse
    retrieval. Plan: one explode -> (doc, term) count shuffle; document
    frequencies aggregate FROM the tf table (no second corpus scan);
    the tiny df/N sides broadcast back onto tf. The tf >= 3 cut keeps the
    grader's row count focused and mirrors real min-count pruning.
    Determinism: idf is ln over exact integers, but ln is libm-dependent
    across hosts, so outputs are half-up ppm-quantized (floor(x*1e6+0.5),
    the q_dq_benford discipline) on BOTH engines — a last-ulp libm skew
    cannot move a value across the grid midpoint."""
    d = t(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny scalar, cached table; a literal in the plan
    toks = ensure_parallelism(d).select(
        "doc_id", F.explode(tokenize(normalize_text("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(1.0) + F.lit(n_docs)) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    return (
        tf.where(F.col("tf") >= 3)
        .join(df_t, "term")  # vocab-sized: no forced broadcast (see keyphrase)
        .select(
            "doc_id",
            "term",
            "tf",
            F.floor(idf * 1000000 + F.lit(0.5)).cast("long").alias("idf_ppm"),
            F.floor((F.col("tf") * idf) * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("tfidf_ppm"),
        )
    )


# --------------------------------------------------------------------------
# URL features (domain/path/query parsing — corpus filtering by provenance)
# --------------------------------------------------------------------------

_SQL_URL = (
    "'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) "
    "|| '?lang=' || lang"
)


@register(
    "q_text_url",
    oracle=rf"""
    SELECT doc_id,
           regexp_extract(url, '://([^/]+)', 1) AS host,
           regexp_extract(url, '://[^/]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '\?(.*)$', 1) AS query,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract(url, '://(?:[^/.]+\.)*([^/.]+\.[^/.]+)/', 1) AS reg_domain
    FROM (SELECT doc_id, {_SQL_URL} AS url FROM documents)
    """,
)
def q_text_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition — the provenance-filtering stage of corpus curation
    (keep/drop by domain, dedup by registered domain, strip tracking
    params). URLs are planted deterministically from the row's own columns
    (the fixture corpus has none); each part is one scan-fused
    regexp_extract, identical on both engines. Deliberately NOT Spark's
    builtin parse_url: it rides java.net.URI, which returns NULL host for
    RFC-invalid-but-ubiquitous hostnames (underscores — common in real
    subdomains), a silent per-row data loss the adversarial fuzz sweep
    (tools/fuzz_diff.py) caught on a mutated source value."""
    d = t(spark, sf_dir, "documents")
    # F.concat (null-propagating, like the oracle's || chain): a doc with
    # missing source/lang metadata has NO derivable URL — every extracted
    # part stays NULL rather than minting 'https://.example.com/...' ghosts.
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.regexp_extract(F.col("url"), r"://([^/]+)", 1).alias("host"),
        F.regexp_extract(F.col("url"), r"://[^/]+(/[^?#]*)", 1).alias("path"),
        F.regexp_extract(F.col("url"), r"\?(.*)$", 1).alias("query"),
        F.regexp_extract(F.col("url"), r"[?&]lang=([^&#]*)", 1).alias("lang_param"),
        F.regexp_extract(
            F.col("url"), r"://(?:[^/.]+\.)*([^/.]+\.[^/.]+)/", 1
        ).alias("reg_domain"),
    )


# --------------------------------------------------------------------------
# End-to-end corpus pipeline: filter -> redact -> dedup -> chunk
# --------------------------------------------------------------------------


@register(
    "q_corpus_pipeline",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang, text, {SQL_TOKS} AS tk FROM documents
    ), scored AS (
        SELECT doc_id, lang, text, tk,
               LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
               + (LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                  / GREATEST(LENGTH(text), 1)) * 0.4
               + (CASE WHEN LENGTH(text) * 1.0 /
                            GREATEST(LEN(string_split_regex(trim(text), '\s+')), 1)
                            BETWEEN 3.0 AND 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.2 AS quality,
               list_aggregate(list_transform(list_distinct(tk),
                                             w -> len(list_filter(tk, x -> x = w))),
                              'max') * 1.0 / len(tk) AS top_frac
        FROM toks
    ), kept AS (
        SELECT doc_id, lang,
               regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g') AS clean,
               tk,
               ROW_NUMBER() OVER (
                   PARTITION BY md5(array_to_string(list_sort(list_distinct(tk)), ' '))
                   ORDER BY doc_id ASC) AS rn
        FROM scored
        WHERE quality >= 0.67 AND top_frac < 0.15
    ), st AS (
        SELECT doc_id, lang, clean,
               string_split(trim(regexp_replace(lower(clean), '\s+', ' ', 'g')), ' ') AS ck,
               unnest(generate_series(
                   0,
                   len(string_split(trim(regexp_replace(lower(clean), '\s+', ' ', 'g')), ' ')) - 1,
                   {_CHUNK_S})) AS start
        FROM kept WHERE rn = 1
    )
    SELECT doc_id, lang,
           start // {_CHUNK_S} AS chunk_id,
           len(list_slice(ck, start + 1, start + {_CHUNK_W})) AS chunk_tokens,
           md5(array_to_string(list_slice(ck, start + 1, start + {_CHUNK_W}), ' '))
               AS chunk_md5
    FROM st
    """,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation chain as ONE plan — what a 100 TB training-data
    run actually ships: quality + repetition filters (both pushed to the
    scan; dropped docs never shuffle) -> PII redaction (map-only) -> exact
    dedup on the bag-of-words key (THE one shuffle) -> sliding-window
    chunking of the surviving, redacted text (map-only fan-out). Every
    stage is an already-oracle-checked operator; this query pins their
    composition.

    Plan shape: scan -> filter -> project -> one hash-shuffle window ->
    explode. Nothing quadratic, nothing Python, one row-proportional
    exchange."""
    from quarkus_etl_spark.functions.text import max_token_count, quality_score

    d = t(spark, sf_dir, "documents")
    tk = tokenize(normalize_text("text"))
    scored = ensure_parallelism(d).select(
        "doc_id", "lang", "text", tk.alias("tk"), quality_score("text").alias("q")
    ).withColumn("top_frac", max_token_count(F.col("tk")) / F.size("tk"))
    kept = scored.where((F.col("q") >= 0.67) & (F.col("top_frac") < 0.15))
    bow = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("tk")))))
    from pyspark.sql.window import Window

    w = Window.partitionBy(bow).orderBy(F.col("doc_id").asc())
    unique = (
        kept.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", redact_pii("text").alias("clean"))
    )
    chunks = chunked(
        unique, tokenize(normalize_text("clean")), _CHUNK_W, _CHUNK_S,
        keep=["doc_id", "lang"],
    )
    return chunks.select(
        "doc_id",
        "lang",
        "chunk_id",
        F.size("chunk").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: n-gram collision against a held-out probe set
# --------------------------------------------------------------------------

_DECON_N = 5  # word n-gram width; real pipelines use 8-13, fixture docs are short


def _gram_rows(toks: DataFrame) -> DataFrame:
    """(doc_id, gram) rows via INDEX explode: the generator input is a cheap
    `sequence()`, and each gram is one slice+array_join in the codegen'd
    projection above the Generate. Exploding the n-gram ARRAY instead puts
    the lambda-bearing expression inside the Generate node, where it
    evaluates interpreted — measured 10-40x slower at n=5 (see
    functions/text.py::ngrams). Duplicate grams within a doc are kept;
    consumers dedup in their aggregate."""
    nmax = F.greatest(F.size("tk") - (_DECON_N - 1), F.lit(1))
    return (
        toks.select("doc_id", "tk", F.explode(F.sequence(F.lit(1), nmax)).alias("i"))
        .where(F.col("i") <= F.size("tk") - (_DECON_N - 1))
        .select(
            "doc_id", F.array_join(F.slice("tk", F.col("i"), _DECON_N), " ").alias("gram")
        )
    )


@register(
    "q_decontaminate",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ), grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(tk) - {_DECON_N - 1}, 0)),
                   i -> array_to_string(list_slice(tk, i, i + {_DECON_N - 1}), ' ')
               )) AS gram
        FROM toks
    ), bench AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
    ), corpus AS (
        SELECT doc_id, gram FROM grams WHERE doc_id % 97 <> 0
    )
    SELECT c.doc_id, count(DISTINCT c.gram) AS n_shared
    FROM corpus c JOIN bench b USING (gram)
    GROUP BY c.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    {_DECON_N}-gram with a held-out benchmark set (here: doc_id % 97 == 0
    plays the benchmark; real pipelines load eval suites). Output is one row
    per contaminated document with its distinct-collision count.

    Scale design: the BENCHMARK side is the broadcast build — eval suites
    are bounded (millions of n-grams, not corpus-sized), which is exactly
    when a broadcast hash join is the right plan at 100 TB: the corpus side
    streams map-only through the index-explode gram projection + broadcast
    probe with zero shuffle before the per-doc distinct count (itself keyed
    by doc_id, AQE-sized; countDistinct dedups in-aggregate so no per-array
    distinct pass is needed upstream). Past broadcast limits the same plan
    degrades to a bloom-filter pre-probe + shuffle join; the fixture
    benchmark is small by construction so the broadcast IS the
    scale-correct choice here."""
    d = t(spark, sf_dir, "documents")
    toks = ensure_parallelism(d).select(
        "doc_id", tokenize(normalize_text("text")).alias("tk")
    )
    grams = _gram_rows(toks)
    bench = grams.where(F.col("doc_id") % 97 == 0).select("gram").distinct()
    corpus = grams.where(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared"))
    )


# --------------------------------------------------------------------------
# Training-batch assembly: sequence packing, splits, leakage audit,
# unigram-LM scoring, mixture rebalancing
# --------------------------------------------------------------------------

_PACK_CAP = 256  # tokens per packed training sequence

_SQL_SPLIT = """
        SELECT doc_id, lang, n_chars,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                         THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
                         THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
"""


def _split_col() -> F.Column:
    h = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 2)
    return (
        F.when(h < "e6", F.lit("train"))
        .when(h < "f3", F.lit("val"))
        .otherwise(F.lit("test"))
    )


@register(
    "q_pack_sequences",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang, len({SQL_TOKS}) AS n_tok FROM documents
    ), seq AS (
        SELECT lang, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        FROM toks
    )
    SELECT lang, CAST((cum - n_tok) // {_PACK_CAP} AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
    FROM seq GROUP BY lang, (cum - n_tok) // {_PACK_CAP}
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assembling fixed-capacity training sequences from
    variable-length documents (the batch-shaping stage before an LLM
    training run). Documents stream in doc_id order within a lang shard;
    each lands in the bin where its first token falls in the concatenated
    stream (bin = prefix-sum DIV capacity), so bins are contiguous and the
    assignment is a single running-sum window — ONE shuffle, no loop.
    At 100 TB the shard key becomes (lang, file-shard) so no single
    ordered region exceeds one reducer; packing quality is unchanged
    because packing is per-shard greedy either way."""
    d = t(spark, sf_dir, "documents")
    toks = ensure_parallelism(d).select(
        "doc_id", "lang", F.size(tokenize(normalize_text("text"))).alias("n_tok")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    seq = toks.withColumn("cum", F.sum("n_tok").over(w))
    return (
        seq.withColumn("bin_id", F.expr(f"(cum - n_tok) DIV {_PACK_CAP}"))
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("seq_tokens"),
        )
    )


@register(
    "q_split_assign",
    oracle=f"""
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM ({_SQL_SPLIT})
    GROUP BY split, lang
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic group-aware train/val/test split (~90/5/5): the split
    label is a pure function of doc_id's md5, so (a) every derived row of
    a document (chunks, features, embeddings) joins back to the SAME
    split with no coordination, and (b) growing the corpus never
    reassigns an existing document — the auditability property that
    matters when the corpus is rebuilt at 100 TB. Scan-fused expression,
    zero shuffles before the reporting aggregate."""
    d = t(spark, sf_dir, "documents")
    return (
        ensure_parallelism(d)
        .select("lang", "n_chars", _split_col().alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "q_split_leakage",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
        FROM documents
    ), sets AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(generate_series(1, len(tk) - 1),
                                            i -> tk[i] || ' ' || tk[i+1])) AS s
        FROM toks
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sets a JOIN sets b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s)) * 1.0 /
              len(list_distinct(list_concat(a.s, b.s))) >= 0.7
    ), spl AS ({_SQL_SPLIT})
    SELECT sa.split AS split_a, sb.split AS split_b, COUNT(*) AS n_pairs
    FROM pairs p
    JOIN spl sa ON p.id_a = sa.doc_id
    JOIN spl sb ON p.id_b = sb.doc_id
    GROUP BY sa.split, sb.split
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: near-duplicate pairs (the oracled
    word-bigram Jaccard graph) joined to both members' split labels,
    counted by (split_a, split_b) — any train x test mass is leakage the
    eval can't be trusted under. The surviving pair set is sparse, so the
    two label joins shuffle only candidate ids; the label side is a
    scan-fused projection of documents (no second derivation), and AQE
    broadcasts whichever side collapses below the threshold. The pair
    GENERATOR routes by corpus size (near_dup_edges auto): the exhaustive
    exact-Jaccard plan at audit/oracle scale, MinHash-LSH candidates with
    exact verification above dedup.EXHAUSTIVE_MAX_DOCS — the audit
    aggregate is generator-agnostic (same (id_a, id_b) contract)."""
    from ..operators.dedup import near_dup_edges

    d = t(spark, sf_dir, "documents")
    pairs = near_dup_edges(
        d, "doc_id", "text", block_col="lang", threshold=0.7
    ).select("id_a", "id_b")
    spl = ensure_parallelism(d).select("doc_id", _split_col().alias("split"))
    sa = spl.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = spl.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "q_text_unigram_lp",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, t.w AS term
        FROM (SELECT doc_id, {SQL_TOKS} AS tk FROM documents), unnest(tk) AS t(w)
    ), cnt AS (
        SELECT term, COUNT(*) AS term_n FROM toks GROUP BY term
    ), tot AS (
        SELECT CAST(SUM(term_n) AS BIGINT) AS total FROM cnt
    )
    SELECT doc_id, COUNT(*) AS n_tok,
           CAST(SUM(CAST(-ln(term_n * 1.0 / total) AS DECIMAL(18,9))) AS DOUBLE)
               / COUNT(*) AS avg_nll
    FROM toks JOIN cnt USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_text_unigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram log-likelihood scoring — the cheapest LM-based quality
    filter: fit the corpus's own unigram distribution (one token-count
    aggregate), then score every document by mean negative log-probability
    of its tokens. Two row-proportional shuffles (term counts; join back
    on term) + one per-doc aggregate. The term side is Zipf-skewed, so at
    scale the join runs under AQE skew splitting — or the head of the
    distribution (the few thousand terms covering ~90% of mass) broadcasts
    and only the tail shuffles. Determinism: ln of the same rational on
    both engines, quantized to DECIMAL(18,9) BEFORE the order-sensitive
    sum, so partial-aggregation order can't skew the double."""
    d = t(spark, sf_dir, "documents")
    toks = ensure_parallelism(d).select(
        "doc_id", F.explode(tokenize(normalize_text("text"))).alias("term")
    )
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("term_n"))
    tot = cnt.agg(F.sum("term_n").cast("long").alias("total"))
    nll = (-F.log(F.col("term_n") * F.lit(1.0) / F.col("total"))).cast(
        "decimal(18,9)"
    )
    return (
        toks.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            (F.sum(nll).cast("double") / F.count(F.lit(1))).alias("avg_nll"),
        )
    )


@register(
    "q_mix_rebalance",
    oracle="""
    WITH stats AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_langs FROM stats
    ), rates AS (
        SELECT lang, n,
               LEAST(1.0, (total * 1.0 / n_langs) / n) AS keep_rate
        FROM stats CROSS JOIN tot
    ), marked AS (
        SELECT d.lang, r.n,
               CASE WHEN r.keep_rate >= 1.0 THEN 'zzzzzz'
                    ELSE printf('%06x', CAST(floor(r.keep_rate * 16777216) AS INT))
               END AS rate_hex,
               substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS h
        FROM documents d JOIN rates r USING (lang)
    )
    SELECT lang, MIN(n) AS n_docs,
           CAST(SUM(CASE WHEN h < rate_hex THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM marked GROUP BY lang
    """,
)
def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing toward a uniform language mix: per-language keep
    rates are COMPUTED FROM the corpus (target share / actual share,
    capped at 1), then applied as deterministic md5-threshold sampling —
    the self-calibrating form of q_sample_stratified. The rate table is a
    grouped count (tiny — one row per language) broadcast back onto the
    scan, so selection is still a scan-fused filter; rates quantize to a
    1/2^24 hex grid so the cross-engine comparison is a string compare,
    never a float boundary. Reports per-language corpus size and kept
    count; the same hash re-selects supersets when rates rise."""
    d = t(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = stats.agg(
        F.sum("n").cast("long").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        F.least(
            F.lit(1.0), (F.col("total") * F.lit(1.0) / F.col("n_langs")) / F.col("n")
        ).alias("keep_rate"),
    )
    rate_hex = F.when(F.col("keep_rate") >= 1.0, F.lit("zzzzzz")).otherwise(
        F.format_string(
            "%06x", F.floor(F.col("keep_rate") * 16777216).cast("int")
        )
    )
    h = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 6)
    marked = (
        ensure_parallelism(d)
        .select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .select("lang", "n", rate_hex.alias("rate_hex"), h.alias("h"))
    )
    return marked.groupBy("lang").agg(
        F.min("n").alias("n_docs"),
        F.sum(F.when(F.col("h") < F.col("rate_hex"), 1).otherwise(0)).alias("n_kept"),
    )


@register(
    "q_corpus_stats",
    oracle=rf"""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(CASE WHEN
               LEAST(LENGTH(text) / 500.0, 1.0) * 0.4
               + (LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                  / GREATEST(LENGTH(text), 1)) * 0.4
               + (CASE WHEN LENGTH(text) * 1.0 /
                            GREATEST(LEN(string_split_regex(trim(text), '\s+')), 1)
                            BETWEEN 3.0 AND 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.2 < 0.67
               THEN 1 ELSE 0 END) AS BIGINT) AS low_quality
    FROM documents
    GROUP BY lang, source
    """,
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card in one aggregate: per (lang, source) document
    count, total token volume, mean document size, and the count failing
    the quality gate — the summary a corpus release ships and a pipeline
    monitors between stages. One scan, one grouped aggregate (map-side
    partials over a low-cardinality key), every metric exact (decimal sum
    for the mean; the quality cut reuses the oracled scoring expression
    verbatim, so the boundary is the same double on both engines)."""
    from ..functions.text import quality_score

    d = t(spark, sf_dir, "documents")
    return (
        ensure_parallelism(d)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokenize(normalize_text("text")))).alias("total_tokens"),
            (F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum(
                F.when(quality_score("text") < 0.67, 1).otherwise(0)
            ).alias("low_quality"),
        )
    )


# --------------------------------------------------------------------------
# Tokenizer-prep / feature-engineering wave (round-2 continuation)
# --------------------------------------------------------------------------

_VOCAB_K = 64


@register(
    "q_vocab_build",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
    ), tok2 AS (
        SELECT doc_id, term FROM tok WHERE term <> ''
    ), stats AS (
        SELECT term, CAST(count(*) AS BIGINT) AS tf,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok2 GROUP BY term
    ), top AS (
        SELECT term, tf, df FROM stats ORDER BY tf DESC, term LIMIT {_VOCAB_K}
    )
    SELECT term, tf, df,
           CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS rank,
           CAST(sum(tf) OVER (ORDER BY tf DESC, term ROWS UNBOUNDED PRECEDING)
                AS DOUBLE)
               / (SELECT CAST(sum(tf) AS DOUBLE) FROM stats) AS cum_share
    FROM top
    """,
)
def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary construction: top-K terms by corpus frequency
    with document frequency and a cumulative-coverage curve (the cum_share
    at rank K is exactly the fraction of corpus tokens the K-entry vocab
    covers — what decides vocab size before training a tokenizer).

    Scale shape: explode -> two-level aggregate — groupBy(term, doc) then
    groupBy(term) — so document frequency needs no count-distinct state;
    both aggs get map-side partials on the same shuffle key prefix. The
    global top-K is TakeOrderedAndProject (no full sort), and the
    rank/coverage window runs on the K-row result (bounded, one
    partition by construction). Total-token count is a 1-row aggregate
    broadcast back — same pattern as gapfill's bounds."""
    d = t(spark, sf_dir, "documents")
    toks = (
        ensure_parallelism(d)
        .select("doc_id", F.explode(tokenize(normalize_text("text"))).alias("term"))
        .where(F.col("term") != "")
    )
    per_doc = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf_d"))
    stats = per_doc.groupBy("term").agg(
        F.sum("tf_d").alias("tf"), F.count(F.lit(1)).alias("df")
    )
    top = stats.orderBy(F.desc("tf"), "term").limit(_VOCAB_K)
    total = stats.agg(F.sum("tf").alias("total_tf"))
    w = Window.orderBy(F.desc("tf"), "term")
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "term",
            "tf",
            "df",
            F.row_number().over(w).cast("long").alias("rank"),
            (
                F.sum("tf").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
                / F.col("total_tf").cast("double")
            ).alias("cum_share"),
        )
    )


_QUOTA = 25


@register(
    "q_quota_sample",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               CAST(row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        FROM documents
    )
    SELECT doc_id, lang, source, rn FROM ranked WHERE rn <= {_QUOTA}
    """,
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota capping: keep at most N documents per (lang,
    source) cell, chosen by a deterministic md5-of-key order — the
    anti-domain-dominance sampler a corpus mix applies so no single
    source floods training data, reproducible across engines because the
    priority is a hash of the key, not an engine PRNG.

    One hash shuffle on the quota key + per-group ordered row_number;
    groups are source domains, so a hot domain is exactly the AQE
    skew-split case. At 100 TB the window never materializes a global
    sort — each group sorts independently (and a per-partition pre-cap
    LocalLimit-style refinement would bound even that if quotas were
    tiny vs group size)."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", "source", F.row_number().over(w).cast("long").alias("rn"))
        .where(F.col("rn") <= _QUOTA)
    )


@register(
    "q_oversample",
    oracle="""
    WITH cnt AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang
    ), f AS (
        SELECT lang, (SELECT max(c) FROM cnt) // c AS factor FROM cnt
    )
    SELECT d.doc_id, d.lang,
           CAST(unnest(generate_series(1, f.factor)) AS BIGINT) AS rep_idx
    FROM documents d JOIN f ON d.lang = f.lang
    """,
)
def q_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minority-class oversampling: replicate each document
    floor(max_class_count / class_count) times (rep_idx numbers the
    replicas) so every language's row count lands within 2x of the
    largest — the integer-factor rebalancing a training mix applies when
    downsampling the majority (q_mix_rebalance) is not an option.

    The per-class factor table is a grouped count (tiny — one row per
    class) broadcast back onto the corpus; replication is
    explode(sequence(1, factor)) — a generator with a plain column
    input, so rows fan out executor-side with no shuffle and no
    driver-side materialization. Output size is bounded by
    classes x max_count, i.e. ~|largest class| x |classes|."""
    d = t(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    # max-over-all as an unpartitioned window on the POST-AGGREGATE class
    # table (one row per class — bounded), not a second aggregate branch:
    # a separate max() subtree re-executes the whole grouped count (no
    # exchange reuse fires across differing downstream exchanges; measured
    # 3 corpus scans), while the window form computes the factor in the
    # same pass the counts came from.
    fac = cnt.select("lang", F.expr("max(c) OVER () DIV c").alias("factor"))
    return d.join(F.broadcast(fac), "lang").select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("factor"))).alias("rep_idx"),
    )


_HASH_D = 32


@register(
    "q_feat_hash",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
    ), tok2 AS (
        SELECT doc_id, term FROM tok WHERE term <> ''
    )
    SELECT doc_id,
           CAST('0x' || substr(md5(term), 1, 4) AS BIGINT) % {_HASH_D} AS bucket,
           CAST(sum(CASE WHEN substr(md5(term), 5, 1) < '8'
                         THEN 1 ELSE -1 END) AS BIGINT) AS feat,
           count(*) AS nnz
    FROM tok2 GROUP BY doc_id, bucket
    """,
)
def q_feat_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project an unbounded token vocabulary into a
    fixed D-dimensional signed feature space (bucket = md5 mod D, sign
    from the next hash nibble — the collision-canceling signed variant).
    This is how categorical/text features feed linear models at corpus
    scale with no vocabulary dictionary to build, ship, or look up.

    md5-derived bucket and sign make the embedding portable across
    engines (vs xxhash64, which only Spark has). One explode + one
    grouped aggregate with map-side partials; output is the sparse
    (doc, bucket) representation — at most D rows per document."""
    d = t(spark, sf_dir, "documents")
    toks = (
        ensure_parallelism(d)
        .select("doc_id", F.explode(tokenize(normalize_text("text"))).alias("term"))
        .where(F.col("term") != "")
    )
    h = F.md5(F.encode(F.col("term"), "UTF-8"))
    return (
        toks.select(
            "doc_id",
            (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % _HASH_D).alias("bucket"),
            F.when(F.substring(h, 5, 1) < "8", F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").alias("feat"), F.count(F.lit(1)).alias("nnz"))
    )


@register(
    "q_feat_scale",
    oracle="""
    WITH s AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS DOUBLE) AS sx,
               CAST(sum(n_chars * n_chars) AS DOUBLE) AS sxx,
               CAST(min(n_chars) AS DOUBLE) AS mn,
               CAST(max(n_chars) AS DOUBLE) AS mx
        FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           CASE WHEN n > 1 AND sxx - sx * sx / n > 0
                THEN (CAST(d.n_chars AS DOUBLE) - sx / n)
                     / sqrt((sxx - sx * sx / n) / (n - 1))
                ELSE 0.0 END AS z,
           CASE WHEN mx > mn
                THEN (CAST(d.n_chars AS DOUBLE) - mn) / (mx - mn)
                ELSE 0.5 END AS minmax
    FROM documents d JOIN s ON d.lang = s.lang
    """,
)
def q_feat_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class feature normalization: z-score and min-max of document
    length within each language — the fit+transform a feature pipeline
    runs before anything distance-based (and the same two-pass shape as
    sklearn's StandardScaler/MinMaxScaler, distributed).

    The "fit" is one grouped aggregate over EXACT integer moments
    (n_chars is integral, so sum and sum-of-squares are exact longs cast
    to double once — no float accumulation order anywhere); the
    "transform" joins that per-class stats table (one row per class,
    broadcast) back onto the corpus and applies a fixed-shape double
    expression, so both engines compute bit-identical normals. Degenerate
    classes (single doc, zero variance, constant length) get pinned
    sentinel outputs instead of NaN/inf."""
    d = t(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("double").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("double").alias("sxx"),
        F.min("n_chars").cast("double").alias("mn"),
        F.max("n_chars").cast("double").alias("mx"),
    )
    n, sx, sxx, mn, mx = (F.col(c) for c in ("n", "sx", "sxx", "mn", "mx"))
    x = F.col("n_chars").cast("double")
    var_num = sxx - sx * sx / n
    z = F.when(
        (n > 1) & (var_num > 0), (x - sx / n) / F.sqrt(var_num / (n - 1))
    ).otherwise(F.lit(0.0))
    minmax = F.when(mx > mn, (x - mn) / (mx - mn)).otherwise(F.lit(0.5))
    return d.join(F.broadcast(s), "lang").select(
        "doc_id", "lang", z.alias("z"), minmax.alias("minmax")
    )


# The HTML fixture is planted deterministically from doc_id (the corpus
# fixture is plain text); the oracle plants the identical wrapper, so the
# strip pipeline is exercised for real — same pattern as q_text_pii.
_SQL_HTML_AUG = (
    "'<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || "
    "'</p><a href=\"/d/' || CAST(doc_id AS VARCHAR) || '\">&amp; see &lt;more&gt;</a>'"
)


@register(
    "q_text_html",
    oracle=rf"""
    WITH aug AS (SELECT doc_id, {_SQL_HTML_AUG} AS html FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(html, '<[^>]+>')) AS n_tags,
           md5(trim(regexp_replace(
               replace(replace(replace(
                   regexp_replace(html, '<[^>]+>', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '\s+', ' ', 'g'))) AS clean_md5
    FROM aug
    """,
)
def q_text_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first stage of every web-corpus
    pipeline: drop tags, decode the common entities, collapse whitespace;
    report the tag count and the cleaned text's fingerprint. Pure regexp
    Column algebra: map-only, fuses into the scan, no shuffle at any
    corpus size (a production pass would extend the entity table and add
    <script>/<style> block removal the same way)."""
    d = t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<h1>Doc "), F.col("doc_id").cast("string"), F.lit("</h1><p>"),
        F.col("text"), F.lit('</p><a href="/d/'), F.col("doc_id").cast("string"),
        F.lit('">&amp; see &lt;more&gt;</a>'),
    )
    aug = d.select("doc_id", html.alias("html"))
    stripped = F.regexp_replace(F.col("html"), "<[^>]+>", " ")
    decoded = F.replace(
        F.replace(
            F.replace(stripped, F.lit("&amp;"), F.lit("&")),
            F.lit("&lt;"), F.lit("<"),
        ),
        F.lit("&gt;"), F.lit(">"),
    )
    clean = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("html", F.lit("<[^>]+>"), F.lit(0))).alias("n_tags"),
        F.md5(F.encode(clean, "UTF-8")).alias("clean_md5"),
    )


@register(
    "q_graph_triangles",
    oracle="""
    WITH pp AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e0 AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM pp a JOIN pp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS (
        SELECT pa, pb FROM e0 GROUP BY pa, pb HAVING count(*) >= 2
    )
    SELECT (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(*)
            FROM e e1
            JOIN e e2 ON e2.pa = e1.pb
            JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb) AS n_triangles
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts appearing
    in >= 2 common orders are edges): the clustering-coefficient /
    community-density primitive, distributed as the classic ordered
    wedge-join — edges are oriented pa < pb, so each triangle is counted
    exactly once as (a<b)⋈(b<c)⋈(a<c), no post-dedup. Per-order pair
    expansion is bounded by lines-per-order (~7 -> <=21 pairs/order);
    the wedge join is the standard equi-join shape AQE skew-splits when a
    hub vertex shows up. (Production refinement: orient by degree, not
    id, to bound wedge fan-out on power-law graphs.)"""
    li = t(spark, sf_dir, "lineitem")
    pp = li.select("l_orderkey", "l_partkey").distinct()
    a, b = pp.alias("a"), pp.alias("b")
    e0 = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
    e = (
        e0.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
        .select("pa", "pb")
    )
    # The edge list feeds FOUR consumers (three wedge-join legs + the edge
    # count); without truncation each consumer re-runs the pair-expansion
    # self-join + support aggregate. Materialize it once (eager — the
    # consumers land in one job, where a lazy checkpoint can double-compute
    # under concurrent stages). r11 A/B at sf0.1: 2.02 -> 1.90 s min; at
    # scale this removes 3 redundant evaluations of the quadratic-per-order
    # pair build.
    e = e.localCheckpoint()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return edges.crossJoin(tri)


_COLLOC_MIN = 5


@register(
    "q_text_colloc",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS} AS tk FROM documents
    ), ug AS (
        SELECT unnest(tk) AS w FROM toks
    ), uc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM ug WHERE w <> '' GROUP BY w
    ), bg AS (
        SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                     i -> tk[i] || ' ' || tk[i+1])) AS b
        FROM toks
    ), bc AS (
        SELECT b, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY b
        HAVING count(*) >= {_COLLOC_MIN}
    ), tot AS (
        SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uc) AS n_ug,
               (SELECT CAST(sum(c_ab) AS DOUBLE) FROM bc) AS n_bg
    )
    SELECT b AS bigram, c_ab,
           (CAST(c_ab AS DOUBLE) / n_bg)
               / ((CAST(ua.c AS DOUBLE) / n_ug) * (CAST(ub.c AS DOUBLE) / n_ug))
               AS lift
    FROM bc
    JOIN uc ua ON ua.w = string_split(b, ' ')[1]
    JOIN uc ub ON ub.w = string_split(b, ' ')[2]
    CROSS JOIN tot
    ORDER BY lift DESC, bigram LIMIT 20
    """,
)
def q_text_colloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: bigrams that co-occur far more than their parts'
    independent rates predict (the lift ratio — PMI without the log, so
    the ranking is identical but no libm ln() can diverge between
    engines; every input is an exact integer-valued double and the score
    is one fixed-shape division chain). Support threshold prunes noise
    bigrams before the joins; unigram and bigram count tables are
    corpus-vocabulary-sized (broadcastable by Catalyst's own estimate);
    top-20 is TakeOrderedAndProject."""
    d = t(spark, sf_dir, "documents")
    tk = tokenize(normalize_text("text"))
    toks = ensure_parallelism(d).select(tk.alias("tk"))
    uc = (
        toks.select(F.explode("tk").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bc = (
        toks.select(F.explode(ngrams(F.col("tk"), 2)).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= _COLLOC_MIN)
    )
    n_ug = uc.agg(F.sum("c").cast("double").alias("n_ug"))
    n_bg = bc.agg(F.sum("c_ab").cast("double").alias("n_bg"))
    parts = F.split(F.col("b"), " ")
    ua = uc.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    ub = uc.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    joined = (
        bc.withColumn("wa", parts.getItem(0))
        .withColumn("wb", parts.getItem(1))
        .join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(n_ug))
        .crossJoin(F.broadcast(n_bg))
    )
    lift = (F.col("c_ab").cast("double") / F.col("n_bg")) / (
        (F.col("ca").cast("double") / F.col("n_ug"))
        * (F.col("cb").cast("double") / F.col("n_ug"))
    )
    return (
        joined.select(F.col("b").alias("bigram"), "c_ab", lift.alias("lift"))
        .orderBy(F.desc("lift"), "bigram")
        .limit(20)
    )


# --------------------------------------------------------------------------
# BM25 retrieval scoring (sparse lexical search over the corpus)
# --------------------------------------------------------------------------

_BM25_K1, _BM25_B, _BM25_NQ = 1.2, 0.75, 5


_BM25_ORACLE = rf"""
    WITH toks AS (
        SELECT doc_id, t.w AS term
        FROM (SELECT doc_id, {SQL_TOKS} AS tk FROM documents), unnest(tk) AS t(w)
    ), dl AS (
        SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), qterms AS (
        SELECT term FROM (
            SELECT term, CAST(SUM(tf) AS BIGINT) AS n FROM tf GROUP BY term
        ) ORDER BY n DESC, term LIMIT {_BM25_NQ}
    )
    SELECT tf.doc_id,
           COUNT(*) AS n_match,
           CAST(SUM(CAST(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * {_BM25_K1 + 1.0})
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))
               AS DECIMAL(18,9))) AS DOUBLE) AS bm25
    FROM tf
    JOIN qterms USING (term)
    JOIN df USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """


@register("q_text_bm25", oracle=_BM25_ORACLE)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson k1=1.2, b=0.75) scoring of every document against the
    corpus's own top-5 terms — the sparse-retrieval ranking behind lexical
    search and hard-negative mining for training data. Plan: the (doc,term)
    tf table comes from the AT-REST materialized view (operators/
    retrieval.tf_at_rest — built once per corpus fingerprint, range-
    partitioned by term; VERDICT r3 #5), so neither this query nor
    q_hybrid_rrf/q_text_postings ever re-explodes the corpus: document
    length, document frequency, and the tiny query-term table all derive
    from the MV, and scoring is a broadcast join + one per-doc aggregate —
    at 100 TB the only row-proportional shuffles are the one-time MV build
    and the final per-doc reduce, both key-bounded. Determinism: idf/
    tf-norm are evaluated in one textually-identical double expression on
    exact integers (tf, df, dl, N) plus one shared avgdl double, quantized
    to DECIMAL(18,9) per term BEFORE the order-sensitive per-doc sum.
    Reference parity: the reference delegates full-text scoring to its
    RDBMS (EtlMain.kt:103-108); this is the Spark-native equivalent."""
    from ..operators.retrieval import tf_at_rest

    tf_mv = tf_at_rest(spark, sf_dir)
    tf = tf_mv.select("doc_id", "term", "tf")
    # dl = sum of tf per doc — exact token count, zero corpus access.
    dl = tf_mv.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        tf.groupBy("term")
        .agg(F.sum("tf").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(_BM25_NQ)
        .select("term")
    )
    # df restricted to the 5 query terms BEFORE broadcasting: the full
    # vocabulary df table is corpus-sized at 100 TB, the restricted one is
    # _BM25_NQ rows by construction.
    qdf = df_t.join(F.broadcast(qterms), "term")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    score = (
        idf
        * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(_BM25_K1)
            * (F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    ).cast("decimal(18,9)")
    return (
        tf.join(F.broadcast(qdf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_match"),
            F.sum(score).cast("double").alias("bm25"),
        )
    )


# --------------------------------------------------------------------------
# Shard manifest: deterministic shard assignment + order-insensitive
# content checksums (the dataset-writer step before tensorization)
# --------------------------------------------------------------------------


@register(
    "q_shard_manifest",
    oracle="""
    WITH h AS (
        SELECT md5(CAST(doc_id AS VARCHAR)) AS hx, n_chars FROM documents
    )
    SELECT substr(hx, 1, 1) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CAST(('0x' || substr(hx, 1, 8)) AS BIGINT)) AS BIGINT)
               AS checksum,
           MIN(hx) AS min_h, MAX(hx) AS max_h
    FROM h GROUP BY substr(hx, 1, 1)
    """,
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharding manifest — the write-side bookkeeping of a
    training-dataset export: every document hashes to one of 16 shards
    (first md5 nibble — uniform, key-independent, reproducible across
    runs and engines), and each shard reports a row count, byte volume,
    and an ORDER-INSENSITIVE content checksum (sum of 32-bit hash
    prefixes as BIGINT — exact to ~2^31 rows per shard; past that the
    shard key widens to more nibbles anyway for write parallelism, which
    restores the bound) plus
    min/max hash as a range fingerprint. This is how two independent
    export runs — or an export and its audit — prove they wrote the same
    shard contents without comparing rows. One hash shuffle on the shard
    key with map-side partials; scales row-proportionally with 16-way
    (configurable-width) output.
    Reference parity: the reference's per-job send/receive audit counters
    (EtlMain.kt:60-61,113-117), upgraded from counts to content proofs."""
    d = t(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    h = d.select(hx.alias("hx"), "n_chars")
    return h.groupBy(F.substring("hx", 1, 1).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.conv(F.substring("hx", 1, 8), 16, 10).cast("long"))
        .cast("long")
        .alias("checksum"),
        F.min("hx").alias("min_h"),
        F.max("hx").alias("max_h"),
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis), deterministic
# --------------------------------------------------------------------------


@register(
    "q_sample_weighted",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang, n_chars,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                + 0.5) / 4503599627370496.0 AS u
        FROM documents WHERE n_chars > 0
    ), k AS (
        SELECT doc_id, lang, n_chars,
               CAST(-ln(u) / n_chars AS DECIMAL(18,9)) AS kq
        FROM h
    ), r AS (
        SELECT doc_id, lang, n_chars, kq,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY kq ASC, doc_id ASC) AS rn
        FROM k
    )
    SELECT doc_id, lang, n_chars, CAST(kq AS DOUBLE) AS samp_key
    FROM r WHERE rn <= 20
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    per-language top-20 documents by the exponential key -ln(u)/w with
    weight w = n_chars — longer documents proportionally likelier, yet the
    whole draw is REPRODUCIBLE because u is a 52-bit md5-derived uniform,
    not an RNG. This is the length-weighted sampling a training-mix builder
    runs; rerunning selects the identical sample on any engine or
    partitioning. Keys quantize to DECIMAL(18,9) before ranking so a
    cross-engine ln() ULP can never flip an ordering (doc_id breaks exact
    ties). Plan: scan-fused key computation, one hash shuffle on lang, and
    a per-group sort bounded by rank 20 (TopK per key at scale; the
    selection is one window pass, not a global sort)."""
    # Zero-weight rows (empty docs) are excluded, not divided by: a
    # weight-0 item has draw probability 0 in A-Res by definition.
    d = t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
            "long"
        )
        + F.lit(0.5)
    ) / F.lit(4503599627370496.0)
    kq = (-F.log(u) / F.col("n_chars")).cast("decimal(18,9)")
    keyed = d.select("doc_id", "lang", "n_chars", kq.alias("kq"))
    w = Window.partitionBy("lang").orderBy(F.col("kq").asc(), F.col("doc_id").asc())
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("doc_id", "lang", "n_chars", F.col("kq").cast("double").alias("samp_key"))
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and dense cosine top-k
# --------------------------------------------------------------------------

_RRF_K, _RRF_TOPK, _RRF_OUT = 60, 100, 50


@register(
    "q_hybrid_rrf",
    oracle=f"""
    WITH bm AS ({_BM25_ORACLE}),
    lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rl
        FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id ASC LIMIT {_RRF_TOPK})
    ), den0 AS (
        SELECT vec_id,
               {duck_cosine('embedding::DOUBLE[]', 'p.probe')} AS cosine
        FROM embeddings
        CROSS JOIN (SELECT embedding::DOUBLE[] AS probe
                    FROM embeddings WHERE vec_id = 0) p
        WHERE embedding IS NOT NULL AND len(embedding) = 64 AND len(list_filter(embedding, x -> NOT isfinite(x))) = 0
        ORDER BY cosine DESC, vec_id ASC LIMIT {_RRF_TOPK}
    ), den AS (
        SELECT vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rd
        FROM den0
    ), fused AS (
        SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.rl, d.rd,
               COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + l.rl),
                        CAST(0.0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + d.rd),
                        CAST(0.0 AS DOUBLE)) AS rrf
        FROM lex l FULL OUTER JOIN den d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, rl AS rank_lex, rd AS rank_dense, rrf
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {_RRF_OUT}
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by RECIPROCAL-RANK FUSION (k=60): the top-100 BM25
    lexical list and the top-100 dense cosine list (vs the vec_id=0 probe)
    are fused by summed 1/(60+rank) — the standard way production search
    combines sparse and dense retrieval without score calibration. Ranks
    are integers, so the fused score is a short sum of exact rationals —
    deterministic on any engine. Scale shape: both candidate lists are
    TopK (TakeOrderedAndProject — parallel partial top-k, no global
    sort); ranking then happens on <= 100 rows, and the fusion join is
    trivially broadcastable. The expensive parts — BM25 scoring and the
    cosine scan — are exactly the already-verified q_text_bm25 /
    q_sim_topk plans."""
    from ..operators.similarity import brute_force_topk
    from .northstar_q import _probe_vec

    lex_scores = q_text_bm25(spark, sf_dir)
    lex100 = lex_scores.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(_RRF_TOPK)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = lex100.withColumn("rl", F.row_number().over(wl)).select("doc_id", "rl")

    e = emb(spark, sf_dir).where(F.col("embedding").isNotNull())
    den100 = brute_force_topk(
        e, "embedding", "vec_id", _probe_vec(spark, sf_dir), k=_RRF_TOPK
    )
    wd = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    den = (
        den100.withColumn("rd", F.row_number().over(wd))
        .select(F.col("vec_id").alias("doc_id"), "rd")
    )

    one, zero = F.lit(1.0), F.lit(0.0)
    fused = lex.join(den, "doc_id", "full").select(
        "doc_id",
        "rl",
        "rd",
        (
            F.coalesce(one / (F.lit(_RRF_K) + F.col("rl")), zero)
            + F.coalesce(one / (F.lit(_RRF_K) + F.col("rd")), zero)
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_RRF_OUT)
        .select("doc_id", F.col("rl").alias("rank_lex"), F.col("rd").alias("rank_dense"), "rrf")
    )


# --------------------------------------------------------------------------
# Corpus token entropy (per-language diversity metric for dataset cards)
# --------------------------------------------------------------------------


@register(
    "q_corpus_entropy",
    oracle=rf"""
    WITH toks AS (
        SELECT lang, t.w AS term
        FROM (SELECT lang, {SQL_TOKS} AS tk FROM documents), unnest(tk) AS t(w)
    ), cnt AS (
        SELECT lang, term, COUNT(*) AS term_n FROM toks GROUP BY lang, term
    ), tot AS (
        SELECT lang, CAST(SUM(term_n) AS BIGINT) AS total,
               COUNT(*) AS vocab_size
        FROM cnt GROUP BY lang
    )
    SELECT cnt.lang, MIN(total) AS n_tokens, MIN(vocab_size) AS vocab_size,
           CAST(-SUM(CAST((term_n * 1.0 / total) * ln(term_n * 1.0 / total)
                          AS DECIMAL(18,9))) AS DOUBLE) AS entropy
    FROM cnt JOIN tot USING (lang)
    GROUP BY cnt.lang
    """,
)
def q_corpus_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Shannon entropy of the token distribution — the corpus
    diversity statistic on a dataset card (low entropy flags templated or
    repetitive subcorpora before they skew training). One token-count
    aggregate per (lang, term), a tiny per-lang total joined back, and a
    per-lang reduce: shuffle volume is vocabulary-sized, never
    rows-sized. Determinism: each term's -p*ln(p) contribution is one
    textually-identical double expression on exact integers, quantized to
    DECIMAL(18,9) BEFORE the order-sensitive sum (same discipline as
    q_text_unigram_lp)."""
    d = t(spark, sf_dir, "documents")
    toks = ensure_parallelism(d).select(
        "lang", F.explode(tokenize(normalize_text("text"))).alias("term")
    )
    cnt = toks.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("term_n"))
    tot = cnt.groupBy("lang").agg(
        F.sum("term_n").cast("long").alias("total"),
        F.count(F.lit(1)).alias("vocab_size"),
    )
    p = F.col("term_n") * F.lit(1.0) / F.col("total")
    contrib = (p * F.log(p)).cast("decimal(18,9)")
    return (
        cnt.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.min("total").alias("n_tokens"),
            F.min("vocab_size").alias("vocab_size"),
            (-F.sum(contrib)).cast("double").alias("entropy"),
        )
    )


@register(
    "q_text_bigram_lp",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, tk FROM (SELECT doc_id, {SQL_TOKS} AS tk FROM documents)
    ), bg AS (
        SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
    ), bgc AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2
    ), ugc AS (
        SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM bgc GROUP BY w1
    )
    SELECT bg.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(-ln(c2 * 1.0 / c1) AS DECIMAL(18,9))) AS DOUBLE)
               / COUNT(*) AS avg_nll2
    FROM bg JOIN bgc USING (w1, w2) JOIN ugc USING (w1)
    GROUP BY bg.doc_id
    """,
)
def q_text_bigram_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-BIGRAM conditional log-likelihood scoring — one rung up the
    LM-quality-filter ladder from q_text_unigram_lp: each document is
    scored by the mean -ln P(w_i | w_{i-1}) under the corpus's own bigram
    counts (the prefix totals derive FROM the bigram table, so the corpus
    is tokenized once). Two vocabulary-bounded aggregates + one join back
    on the bigram key; Zipf skew on the join key is the AQE-skew-split
    case at scale. Determinism: ln of the same rational quantized to
    DECIMAL(18,9) before the order-sensitive per-doc sum."""
    d = t(spark, sf_dir, "documents")
    toks = ensure_parallelism(d).select(
        "doc_id", tokenize(normalize_text("text")).alias("tk")
    )
    # sequence(1, 0) DESCENDS in Spark ([1,0] — ANSI keeps it), while
    # DuckDB's generate_series(1, 0) is empty; the fixtures contain <2-token
    # docs, so clamp to an empty slice instead of a when() branch (branchy
    # guards around array pipelines defeat codegen fusion — see NOTES).
    n_bi = F.greatest(F.size("tk") - 1, F.lit(0))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.slice(F.sequence(F.lit(1), F.greatest(n_bi, F.lit(1))), 1, n_bi)
        ).alias("i"),
        "tk",
    ).select(
        "doc_id",
        F.try_element_at("tk", F.col("i")).alias("w1"),
        F.try_element_at("tk", F.col("i") + 1).alias("w2"),
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ugc = bgc.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    nll = (-F.log(F.col("c2") * F.lit(1.0) / F.col("c1"))).cast("decimal(18,9)")
    return (
        bg.join(bgc, ["w1", "w2"])
        .join(ugc, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(nll).cast("double") / F.count(F.lit(1))).alias("avg_nll2"),
        )
    )


# --------------------------------------------------------------------------
# Inverted index build (the retrieval-index artifact itself)
# --------------------------------------------------------------------------


@register(
    "q_text_postings",
    oracle=rf"""
    WITH pos AS (
        SELECT doc_id, tk[i] AS term, i - 1 AS p
        FROM (SELECT doc_id, {SQL_TOKS} AS tk FROM documents),
             unnest(generate_series(1, len(tk))) AS g(i)
    ), first_pos AS (
        SELECT term, doc_id, MIN(p) AS fp, COUNT(*) AS tf
        FROM pos GROUP BY term, doc_id
    )
    SELECT term,
           COUNT(*) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(
               list_slice(list_sort(list(doc_id || ':' || CAST(fp AS VARCHAR))),
                          1, 100), ',') AS postings_head
    FROM first_pos GROUP BY term
    """,
)
def q_text_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the artifact a distributed search
    engine actually materializes: per term, document frequency, total
    term frequency, and the head of the (doc_id:first_position) posting
    list, sorted and serialized (capped at 100 entries so the gate row
    stays bounded; production writes the full list partitioned BY term
    range). One explode -> (term, doc) aggregate -> per-term reduce:
    shuffle volume is postings-sized, the natural cost of index build;
    Zipf-head terms are the AQE-skew case. collect_list order is
    partition-dependent, so the list is array_sort'ed before slicing —
    the (doc:pos) strings sort identically in both engines because the
    sort key is the full string. The (term, doc, fp, tf) table is the
    AT-REST MV (operators/retrieval.tf_at_rest) — range-partitioned by
    term, which is exactly the layout the per-term reduce wants."""
    from ..operators.retrieval import tf_at_rest

    from pyspark.sql.window import Window

    fp = tf_at_rest(spark, sf_dir)
    entry = F.concat_ws(":", F.col("doc_id").cast("string"), F.col("fp").cast("string"))
    # Head-bounding BEFORE the collect (r7 single-array discipline): a
    # Zipf-head term's full posting list must never materialize as one
    # aggregation-buffer array — rank entries inside the term partition
    # (window and aggregate share the exchange) and collect only rank<=100
    # (collect_list skips the NULLs the when() leaves), while df/total_tf
    # still aggregate every row. Same 100 smallest entries, same string,
    # bounded state.
    w = Window.partitionBy("term").orderBy(entry)
    ranked = fp.withColumn("__e", entry).withColumn(
        "__rn", F.row_number().over(w)
    )
    return ranked.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_list(F.when(F.col("__rn") <= 100, F.col("__e")))
            ),
        ).alias("postings_head"),
    )


@register(
    "q_stats_chi2",
    oracle="""
    WITH obs AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ), rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY source),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS total FROM obs)
    SELECT CAST(SUM(CAST(
               (o - r * c * 1.0 / total) * (o - r * c * 1.0 / total)
               / (r * c * 1.0 / total) AS DECIMAL(18,9))) AS DOUBLE) AS chi2,
           CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
                AS BIGINT) AS dof
    FROM obs JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
    """,
)
def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test on the lang x source contingency table
    — the categorical-association screen (is provenance correlated with
    language?) a dataset audit runs. The contingency table is one grouped
    count; margins derive FROM it (no rescan) and broadcast back; each
    cell's (O-E)^2/E is a textually-identical double expression on exact
    integers, quantized to DECIMAL(18,9) before the order-sensitive sum.
    Cell count is |langs| x |sources| — trivially bounded at any corpus
    size."""
    d = t(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("lang").agg(F.sum("o").cast("long").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("o").cast("long").alias("c"))
    n = obs.agg(F.sum("o").cast("long").alias("total"))
    e = F.col("r") * F.col("c") * F.lit(1.0) / F.col("total")
    cell = ((F.col("o") - e) * (F.col("o") - e) / e).cast("decimal(18,9)")
    return (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(cell).cast("double").alias("chi2"),
            (
                (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
            ).cast("long").alias("dof"),
        )
    )


@register(
    "q_stats_gini",
    oracle="""
    WITH ranked AS (
        SELECT lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n_chars ASC, doc_id ASC) AS i,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM documents
    )
    SELECT lang, CAST(MIN(n) AS BIGINT) AS n_docs,
           CAST(2.0 * SUM(CAST(i AS DECIMAL(28,0)) * CAST(n_chars AS DECIMAL(28,0)))
                AS DOUBLE)
             / (MIN(n) * CAST(SUM(CAST(n_chars AS DECIMAL(28,0))) AS DOUBLE))
             - (MIN(n) + 1.0) / MIN(n) AS gini
    FROM ranked GROUP BY lang
    """,
)
def q_stats_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini coefficient of document length — the inequality
    metric that flags a subcorpus dominated by a few huge documents. Uses
    the rank formulation G = 2*sum(i*x_(i))/(n*sum(x)) - (n+1)/n over one
    window sort per language (rank i and the n count share the partition;
    ties broken by doc_id so the rank is total). Both sums accumulate as
    EXACT decimal integers; the closing expression is one deterministic
    double chain. One shuffle, per-group sort — the percentile-family
    cost shape."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    wo = Window.partitionBy("lang").orderBy(F.asc("n_chars"), F.asc("doc_id"))
    wp = Window.partitionBy("lang")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    dec = "decimal(28,0)"
    return ranked.groupBy("lang").agg(
        F.min("n").cast("long").alias("n_docs"),
        (
            F.lit(2.0)
            * F.sum(F.col("i").cast(dec) * F.col("n_chars").cast(dec)).cast("double")
            / (F.min("n") * F.sum(F.col("n_chars").cast(dec)).cast("double"))
            - (F.min("n") + F.lit(1.0)) / F.min("n")
        ).alias("gini"),
    )


@register(
    "q_text_keyphrase",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, t.w AS term FROM
        (SELECT doc_id, {SQL_TOKS} AS tk FROM documents), unnest(tk) AS t(w)
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(floor(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0)
                          * 1000000 + 0.5) AS BIGINT) AS tfidf_ppm
        FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
        SELECT doc_id, term, tfidf_ppm,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf_ppm DESC, term ASC) AS rn
        FROM scored
    )
    SELECT doc_id, term, tfidf_ppm, rn AS kp_rank FROM ranked WHERE rn <= 3
    """,
)
def q_text_keyphrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyphrase extraction: each document's top-3 terms by TF-IDF — the
    per-doc closing step over the corpus statistic q_text_tfidf already
    verifies. The rank window is bounded (per-doc state = 3 rows at any
    scale). Ranking happens on the half-up ppm-QUANTIZED score (the
    q_dq_benford discipline): ln is libm-dependent across hosts, and a
    raw-double ORDER BY would let a last-ulp skew flip two near-tied
    ranks; on the ppm grid near-ties collapse to exact ties and break
    deterministically on the term string."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    n_docs = d.count()
    toks = ensure_parallelism(d).select(
        "doc_id", F.explode(tokenize(normalize_text("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(1.0) + F.lit(n_docs)) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    # no broadcast HINT: the vocabulary df table is corpus-dependent (can
    # exceed any broadcast limit at 100 TB); Catalyst auto-broadcasts when
    # it measurably fits, else this is a shuffle join on the Zipf-skewed
    # term key — the AQE skew-split case.
    scored = tf.join(df_t, "term").select(
        "doc_id",
        "term",
        F.floor((F.col("tf") * idf) * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("tfidf_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_ppm"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf_ppm", F.col("rn").alias("kp_rank"))
    )


# --------------------------------------------------------------------------
# Mixture temperature sampling + k-anonymity audit (wave 7)
# --------------------------------------------------------------------------


@register(
    "q_mix_temperature",
    oracle="""
    WITH stats AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), w AS (
        SELECT lang, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576) AS BIGINT) AS sq
        FROM stats
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total,
               CAST(SUM(sq) AS BIGINT) AS wsum
        FROM w
    ), rates AS (
        SELECT lang, n,
               CAST(CAST(total AS DECIMAL(38,0)) * sq AS DOUBLE)
                 / CAST(CAST(wsum AS DECIMAL(38,0)) * n AS DOUBLE) AS rate
        FROM w CROSS JOIN tot
    ), rr AS (
        SELECT lang, n, rate,
               CAST(floor(rate) AS BIGINT) AS base,
               printf('%06x',
                      CAST(floor((rate - floor(rate)) * 16777216) AS BIGINT))
                   AS frac_hex
        FROM rates
    ), marked AS (
        SELECT d.lang, r.n, r.base, r.rate,
               CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
                         < r.frac_hex THEN 1 ELSE 0 END AS extra
        FROM documents d JOIN rr r USING (lang)
    )
    SELECT lang, MIN(n) AS n_docs,
           CAST(MIN(CAST(floor(rate * 1000000) AS BIGINT)) AS BIGINT) AS rate_ppm,
           CAST(MIN(n) * MIN(base) + SUM(extra) AS BIGINT) AS n_emitted
    FROM marked GROUP BY lang
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (the mC4/XLM-R language-balancing
    recipe): sampling weight w_l = p_l^alpha with alpha=0.5, i.e. sqrt of
    the language's share — upsamples low-resource languages (rate > 1 ->
    integer repeat + fractional md5-threshold extra copy), downsamples
    high-resource ones (rate < 1 -> keep-rate). alpha=0.5 is chosen so the
    power is IEEE sqrt — correctly rounded and bit-identical on every
    engine, unlike libm pow. sqrt weights quantize to a 2^20 fixed-point
    grid and sum EXACTLY as integers; each rate is then ONE double
    division of two exactly-represented decimal products, so the
    cross-engine rate is bit-identical and the per-doc emission decision
    (6-hex-digit md5 vs a 2^24-grid threshold) is a pure string compare.
    Plan: one tiny grouped count (|langs| rows) broadcast back onto the
    scan; emission is counted, not exploded — one narrow aggregate at any
    scale."""
    d = t(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = stats.select(
        "lang",
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1048576).cast("long").alias("sq"),
    )
    tot = w.agg(
        F.sum("n").cast("long").alias("total"), F.sum("sq").cast("long").alias("wsum")
    )
    rate = (F.col("total").cast("decimal(38,0)") * F.col("sq")).cast("double") / (
        F.col("wsum").cast("decimal(38,0)") * F.col("n")
    ).cast("double")
    rr = (
        w.crossJoin(F.broadcast(tot))
        .select("lang", "n", rate.alias("rate"))
        .select(
            "lang",
            "n",
            "rate",
            F.floor("rate").cast("long").alias("base"),
            F.format_string(
                "%06x",
                F.floor((F.col("rate") - F.floor("rate")) * 16777216).cast("long"),
            ).alias("frac_hex"),
        )
    )
    h = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 6)
    marked = (
        ensure_parallelism(d)
        .select("doc_id", "lang")
        .join(F.broadcast(rr), "lang")
        .select(
            "lang",
            "n",
            "base",
            "rate",
            (h < F.col("frac_hex")).cast("int").alias("extra"),
        )
    )
    return marked.groupBy("lang").agg(
        F.min("n").alias("n_docs"),
        F.min(F.floor(F.col("rate") * 1000000).cast("long")).alias("rate_ppm"),
        (F.min("n") * F.min("base") + F.sum("extra")).cast("long").alias("n_emitted"),
    )


@register(
    "q_anon_k",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, source,
               CAST(n_chars // 100 AS BIGINT) AS len_bucket
        FROM documents
    ), g1 AS (
        SELECT lang, source, len_bucket, COUNT(*) AS n1
        FROM keyed GROUP BY lang, source, len_bucket
    ), marked AS (
        SELECT k.doc_id, k.lang, k.len_bucket,
               CASE WHEN g.n1 < 5 THEN '*' ELSE k.source END AS source2,
               CASE WHEN g.n1 < 5 THEN 1 ELSE 0 END AS risky1
        FROM keyed k
        JOIN g1 g ON k.lang = g.lang AND k.source = g.source
                 AND k.len_bucket = g.len_bucket
    ), g2 AS (
        SELECT lang, source2, len_bucket, COUNT(*) AS n2
        FROM marked GROUP BY lang, source2, len_bucket
    ), audit AS (
        SELECT m.lang, m.risky1,
               CASE WHEN g.n2 < 5 THEN 1 ELSE 0 END AS risky2
        FROM marked m
        JOIN g2 g ON m.lang = g.lang AND m.source2 = g.source2
                 AND m.len_bucket = g.len_bucket
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(risky1) AS BIGINT) AS docs_at_risk,
           CAST(SUM(risky2) AS BIGINT) AS docs_at_risk_after
    FROM audit GROUP BY lang
    """,
)
def q_anon_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit + one generalization round (k=5) over the
    quasi-identifier (lang, source, length-centile bucket) — the privacy
    gate a public training-corpus release runs before shipping metadata.
    Docs in groups smaller than k have their rarest attribute (source)
    generalized to '*', then re-audited: the residual docs_at_risk_after
    measures whether one generalization round suffices. Both rounds are
    hash aggregations on narrow keys joined back by the same key (no
    windows, no skew risk — group keys are bounded by the attribute
    domain, not corpus size); integer-division bucketing is portable
    (n_chars is exact BIGINT in both engines)."""
    d = t(spark, sf_dir, "documents")
    keyed = ensure_parallelism(d).select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(100)).cast("long").alias("len_bucket"),
    )
    g1 = keyed.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).alias("n1")
    )
    marked = keyed.join(g1, ["lang", "source", "len_bucket"]).select(
        "doc_id",
        "lang",
        "len_bucket",
        F.when(F.col("n1") < 5, F.lit("*")).otherwise(F.col("source")).alias("source2"),
        F.when(F.col("n1") < 5, 1).otherwise(0).alias("risky1"),
    )
    g2 = marked.groupBy("lang", "source2", "len_bucket").agg(
        F.count(F.lit(1)).alias("n2")
    )
    audit = marked.join(g2, ["lang", "source2", "len_bucket"]).select(
        "lang",
        "risky1",
        F.when(F.col("n2") < 5, 1).otherwise(0).alias("risky2"),
    )
    return audit.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("risky1").cast("long").alias("docs_at_risk"),
        F.sum("risky2").cast("long").alias("docs_at_risk_after"),
    )


# --------------------------------------------------------------------------
# BPE merge learning (q_tok_bpe_learn): the tokenizer-training inner loop.
# --------------------------------------------------------------------------

_BPE_ORACLE = rf"""
    WITH toks AS (
        SELECT t.w AS word FROM
        (SELECT {SQL_TOKS} AS tk FROM documents), unnest(tk) AS t(w)
        WHERE regexp_matches(t.w, '^[a-z]+$')
    ), words AS (
        SELECT word, COUNT(*) AS freq FROM toks GROUP BY word
    ), r0 AS (
        SELECT word, freq,
               '  ' || regexp_replace(word, '(.)', '\1  ', 'g') AS rep
        FROM words
    ), p1 AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS f FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(s)),
                                         i -> s[i] || ' ' || s[i+1])) AS pair
            FROM (SELECT freq, string_split(trim(rep), '  ') AS s FROM r0)
        ) GROUP BY pair
    ), b1 AS (
        SELECT pair, f,
               ' ' || replace(pair, ' ', '  ') || ' ' AS patt,
               ' ' || replace(pair, ' ', '') || ' ' AS mrep
        FROM p1 ORDER BY f DESC, pair ASC LIMIT 1
    ), r1 AS (
        SELECT word, freq, replace(rep, b.patt, b.mrep) AS rep
        FROM r0 CROSS JOIN b1 b
    ), p2 AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS f FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(s)),
                                         i -> s[i] || ' ' || s[i+1])) AS pair
            FROM (SELECT freq, string_split(trim(rep), '  ') AS s FROM r1)
        ) GROUP BY pair
    ), b2 AS (
        SELECT pair, f,
               ' ' || replace(pair, ' ', '  ') || ' ' AS patt,
               ' ' || replace(pair, ' ', '') || ' ' AS mrep
        FROM p2 ORDER BY f DESC, pair ASC LIMIT 1
    ), r2 AS (
        SELECT word, freq, replace(rep, b.patt, b.mrep) AS rep
        FROM r1 CROSS JOIN b2 b
    ), p3 AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS f FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(s)),
                                         i -> s[i] || ' ' || s[i+1])) AS pair
            FROM (SELECT freq, string_split(trim(rep), '  ') AS s FROM r2)
        ) GROUP BY pair
    ), b3 AS (
        SELECT pair, f FROM p3 ORDER BY f DESC, pair ASC LIMIT 1
    )
    SELECT CAST(1 AS INT) AS merge_rank, pair, f AS pair_freq FROM b1
    UNION ALL
    SELECT CAST(2 AS INT) AS merge_rank, pair, f AS pair_freq FROM b2
    UNION ALL
    SELECT CAST(3 AS INT) AS merge_rank, pair, f AS pair_freq FROM b3
"""


def _bpe_merge_rounds(d: DataFrame, rounds: int = 3):
    """Shared BPE trainer core: returns (per-round best-pair DataFrames,
    final vocab representation after all merges). See q_tok_bpe_learn for
    the 2-space representation argument."""
    words = (
        ensure_parallelism(d)
        .select(F.explode(tokenize(normalize_text("text"))).alias("word"))
        .where(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    r = words.select(
        "word",
        "freq",
        F.concat(F.lit("  "), F.regexp_replace(F.col("word"), "(.)", "$1  ")).alias(
            "rep"
        ),
    )
    bests: list[DataFrame] = []
    for rnd in range(1, rounds + 1):
        s = F.split(F.trim(F.col("rep")), "  ")
        n = F.size(s)
        # adjacent pairs via zip_with over two top-level slices: `s` is a
        # DERIVED expression, and element_at(s, i) inside a lambda would
        # re-run the split once per element (interpreted HOF eval has no
        # CSE — the round-5 _max_count_sorted lesson, O(L²) per row);
        # top-level slice references evaluate it a constant number of times
        prs = F.zip_with(
            F.slice(s, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(s, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        pc = (
            r.select("freq", F.explode(prs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("f"))
        )
        best = (
            pc.orderBy(F.desc("f"), F.asc("pair"))
            .limit(1)
            .select(
                "pair",
                "f",
                F.concat(
                    F.lit(" "), F.regexp_replace("pair", " ", "  "), F.lit(" ")
                ).alias("patt"),
                F.concat(
                    F.lit(" "), F.regexp_replace("pair", " ", ""), F.lit(" ")
                ).alias("mrep"),
            )
        )
        bests.append(
            best.select(
                F.lit(rnd).alias("merge_rank"), "pair", F.col("f").alias("pair_freq")
            )
        )
        r = r.crossJoin(F.broadcast(best.select("patt", "mrep"))).select(
            "word",
            "freq",
            F.replace(F.col("rep"), F.col("patt"), F.col("mrep")).alias("rep"),
        )
    return bests, r


@register("q_tok_bpe_learn", oracle=_BPE_ORACLE)
def q_tok_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge learning — the tokenizer-training inner loop
    (learn the top-3 merges over the corpus vocabulary). Classic BPE
    trains on the (word, freq) table, and so does this: after ONE
    corpus-sized aggregation, every iteration touches only the vocabulary
    (corpus-size-independent — millions of rows at 100 TB, not billions).

    The greedy left-to-right non-overlapping merge is executed by plain
    string replace over a TWO-space-delimited symbol string with
    single-space-flanked patterns: ' a  n ' consumes one space from each
    side's pair, so ADJACENT merge sites (which share only a delimiter,
    e.g. banana -> b,an,an,a) no longer conflict, while truly overlapping
    sites (shared symbol, e.g. aaa) resolve left-to-right exactly like
    reference BPE. replace() is left-to-right non-overlapping in both the
    JVM and DuckDB, so the oracle is conclusive for the whole iterative
    algorithm. The best pair per round is a 1-row DataFrame cross-joined
    back (broadcast of one row) — no driver-side collect; ties break on
    the pair string so the merge sequence is total-ordered."""
    d = t(spark, sf_dir, "documents")
    bests, _ = _bpe_merge_rounds(d, rounds=3)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


_BPE_APPLY_ORACLE = _BPE_ORACLE[: _BPE_ORACLE.index("), b3 AS (")] + """), b3 AS (
        SELECT pair, f,
               ' ' || replace(pair, ' ', '  ') || ' ' AS patt,
               ' ' || replace(pair, ' ', '') || ' ' AS mrep
        FROM p3 ORDER BY f DESC, pair ASC LIMIT 1
    ), r3 AS (
        SELECT word, freq, replace(rep, b.patt, b.mrep) AS rep
        FROM r2 CROSS JOIN b3 b
    )
    SELECT word, CAST(freq AS BIGINT) AS freq,
           CAST(length(word) AS BIGINT) AS n_sym_char,
           CAST(len(string_split(trim(rep), '  ')) AS BIGINT) AS n_sym_bpe
    FROM r3
"""


@register("q_tok_apply", oracle=_BPE_APPLY_ORACLE)
def q_tok_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the inference counterpart of q_tok_bpe_learn: apply the
    3 learned merges to the vocabulary and report each word's subword
    token count vs its character count (the compression the tokenizer
    buys). Encoding at corpus scale is exactly this vocab-table map
    followed by a broadcast join onto the token stream, so the vocab
    form IS the scale path; the merge-rule derivation shares
    _bpe_merge_rounds with the trainer, and the oracle replays the same
    three replace rounds, making learn→apply verified end-to-end."""
    d = t(spark, sf_dir, "documents")
    _, r = _bpe_merge_rounds(d, rounds=3)
    return r.select(
        "word",
        F.col("freq").cast("long").alias("freq"),
        F.length("word").cast("long").alias("n_sym_char"),
        F.size(F.split(F.trim(F.col("rep")), "  ")).cast("long").alias("n_sym_bpe"),
    )


@register(
    "q_dedup_url",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               CASE doc_id % 3
                 WHEN 0 THEN 'https://www' || CAST((doc_id // 3) % 7 AS VARCHAR)
                             || '.example.com/docs/' || CAST(doc_id // 3 AS VARCHAR)
                 WHEN 1 THEN 'https://www' || CAST((doc_id // 3) % 7 AS VARCHAR)
                             || '.example.com/docs/' || CAST(doc_id // 3 AS VARCHAR)
                             || '?lang=' || lang || '&utm_source=feed&utm_campaign=c'
                             || CAST(doc_id AS VARCHAR)
                 ELSE 'https://WWW' || CAST((doc_id // 3) % 7 AS VARCHAR)
                             || '.EXAMPLE.COM/docs/' || CAST(doc_id // 3 AS VARCHAR)
                             || '/#sec' || CAST(doc_id AS VARCHAR)
               END AS url
        FROM documents
    ), canon AS (
        SELECT doc_id, url,
               regexp_replace(
                   lower(regexp_extract(u3, '^https?://[^/]+', 0))
                       || regexp_replace(u3, '^https?://[^/]+', ''),
                   '/+$', '') AS curl
        FROM (
            SELECT doc_id, url,
                   regexp_replace(regexp_replace(url, '#.*$', ''),
                                  '&utm_[^&#]*', '', 'g') AS u3
            FROM raw
        )
    )
    SELECT curl, COUNT(*) AS n_raw,
           COUNT(DISTINCT url) AS n_raw_distinct,
           MIN(doc_id) AS keep_doc
    FROM canon GROUP BY curl
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — stage 0 of a web-crawl pipeline: strip
    fragments and utm_* tracking params, lowercase the authority, trim
    trailing slashes, then collapse to one canonical fetch per URL
    (keep-min doc_id). URLs are planted deterministically from the row's
    own columns in three variant shapes (bare / tracking-params /
    uppercased-host + fragment + trailing slash) so every third doc pair
    collides post-canonicalization. Pure scan-fused regexp column
    algebra + ONE hash aggregation on the canonical key — the same plan
    at any scale, no UDFs, no windows."""
    d = t(spark, sf_dir, "documents")
    gid_n = F.floor(F.col("doc_id") / 3).cast("long")
    gid = gid_n.cast("string")
    hostn = (gid_n % 7).cast("string")
    base = F.concat(
        F.lit("https://www"), hostn, F.lit(".example.com/docs/"), gid
    )
    url = (
        F.when(F.col("doc_id") % 3 == 0, base)
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                base,
                F.lit("?lang="),
                F.col("lang"),
                F.lit("&utm_source=feed&utm_campaign=c"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://WWW"),
                hostn,
                F.lit(".EXAMPLE.COM/docs/"),
                gid,
                F.lit("/#sec"),
                F.col("doc_id").cast("string"),
            )
        )
    )
    raw = ensure_parallelism(d).select("doc_id", url.alias("url"))
    u3 = F.regexp_replace(
        F.regexp_replace(F.col("url"), "#.*$", ""), "&utm_[^&#]*", ""
    )
    curl = F.regexp_replace(
        F.concat(
            F.lower(F.regexp_extract(u3, "^https?://[^/]+", 0)),
            F.regexp_replace(u3, "^https?://[^/]+", ""),
        ),
        "/+$",
        "",
    )
    canon = raw.select("doc_id", "url", curl.alias("curl"))
    return canon.groupBy("curl").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.countDistinct("url").alias("n_raw_distinct"),
        F.min("doc_id").alias("keep_doc"),
    )


@register(
    "q_agg_countmin",
    oracle=rf"""
    WITH toks AS (
        SELECT t.w AS word FROM
        (SELECT {SQL_TOKS} AS tk FROM documents), unnest(tk) AS t(w)
        WHERE t.w <> ''
    ), tc AS (
        SELECT word, COUNT(*) AS true_count FROM toks GROUP BY word
    ), grid AS (
        SELECT i FROM range(4) AS r(i)
    ), cms AS (
        SELECT g.i AS i,
               CAST('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || t.word),
                                   1, 4) AS BIGINT) % 64 AS bucket,
               CAST(SUM(t.true_count) AS BIGINT) AS c
        FROM tc t CROSS JOIN grid g
        GROUP BY 1, 2
    ), probes AS (
        SELECT word, true_count FROM tc
        ORDER BY true_count DESC, word ASC LIMIT 10
    ), pb AS (
        SELECT p.word, p.true_count, g.i AS i,
               CAST('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || p.word),
                                   1, 4) AS BIGINT) % 64 AS bucket
        FROM probes p CROSS JOIN grid g
    )
    SELECT pb.word,
           CAST(MIN(pb.true_count) AS BIGINT) AS true_count,
           CAST(MIN(cms.c) AS BIGINT) AS cms_est,
           CAST(MIN(cms.c) - MIN(pb.true_count) AS BIGINT) AS overestimate
    FROM pb JOIN cms ON pb.i = cms.i AND pb.bucket = cms.bucket
    GROUP BY pb.word
    """,
)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4 rows x w=64 buckets) with a PORTABLE md5 hash
    family, so — unlike engine-native sketches — the entire structure is
    hash-checked against the oracle: build the sketch, then answer the
    top-10 heavy hitters' point queries (estimate = min over rows of the
    hashed bucket count; always >= true count). The sketch is the classic
    mergeable stream summary: per-partition partial (i, bucket) counts
    combine by addition, so the shuffle is CONSTANT-size (d*w cells)
    regardless of corpus size — the same reason the reference-scale path
    for frequency monitoring at 100 TB is a sketch, not a full groupBy.
    Token stream -> 2 hash aggregations (one true-count for probes, one
    d*w-cell sketch) + a broadcast join of the 256-cell sketch."""
    d = t(spark, sf_dir, "documents")
    toks = (
        ensure_parallelism(d)
        .select(F.explode(tokenize(normalize_text("text"))).alias("word"))
        .where(F.col("word") != "")
    )
    tc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("true_count"))
    grid = spark.range(4).select(F.col("id").cast("long").alias("i"))

    def bucket(word_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.encode(
                            F.concat(F.col("i").cast("string"), F.lit(":"), word_col),
                            "UTF-8",
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 64
        )

    # Sketch increments are frequency-weighted from the aggregated vocab
    # table: md5 runs once per DISTINCT (row, word) — |vocab| x d hashes,
    # not |occurrences| x d (measured 26.7s -> ~1s at 75M tokens). The
    # result is the identical sketch: CMS cells are additive.
    cms = (
        tc.crossJoin(F.broadcast(grid))
        .groupBy("i", bucket(F.col("word")).alias("bucket"))
        .agg(F.sum("true_count").cast("long").alias("c"))
    )
    probes = tc.orderBy(F.desc("true_count"), F.asc("word")).limit(10)
    pb = probes.crossJoin(F.broadcast(grid)).select(
        "word", "true_count", "i", bucket(F.col("word")).alias("bucket")
    )
    return (
        pb.join(F.broadcast(cms), ["i", "bucket"])
        .groupBy("word")
        .agg(
            F.min("true_count").cast("long").alias("true_count"),
            F.min("c").cast("long").alias("cms_est"),
            (F.min("c") - F.min("true_count")).cast("long").alias("overestimate"),
        )
    )


@register(
    "q_span_corrupt",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, w, pos FROM (
            SELECT doc_id, unnest(tk) AS w,
                   generate_subscripts(tk, 1) - 1 AS pos
            FROM (SELECT doc_id, {SQL_TOKS} AS tk FROM documents)
        ) WHERE w <> ''
    ), marked AS (
        SELECT doc_id, pos,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                  || CAST(pos // 3 AS VARCHAR)), 1, 4)
                          AS BIGINT) % 20 < 3
                    THEN 1 ELSE 0 END AS masked
        FROM toks
    ), runs AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         = pos - 1 THEN 0 ELSE 1 END AS run_start
        FROM marked WHERE masked = 1
    )
    SELECT m.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(m.masked) AS BIGINT) AS n_masked,
           CAST(COALESCE(MIN(r.n_spans), 0) AS BIGINT) AS n_spans,
           CAST(SUM(m.masked) AS DOUBLE) / COUNT(*) AS masked_frac
    FROM marked m
    LEFT JOIN (
        SELECT doc_id, CAST(SUM(run_start) AS BIGINT) AS n_spans
        FROM runs GROUP BY doc_id
    ) r ON m.doc_id = r.doc_id
    GROUP BY m.doc_id
    """,
)
def q_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning: deterministically mask ~15% of
    each document's tokens in 3-token blocks (md5 of (doc, block) — the
    same mask on every engine and every rerun, unlike rand()), then
    report the denoising-objective statistics: token count, masked
    count, number of SENTINEL SPANS (maximal masked runs — adjacent
    blocks merge, counted by the gaps-and-islands run-start trick), and
    the masked fraction. Map-side hash marking + one bounded window per
    doc + one aggregation; the mask decision never leaves the scan
    stage, so the plan is corruption-for-free at any corpus size."""
    d = t(spark, sf_dir, "documents")
    toks = (
        ensure_parallelism(d)
        .select(
            "doc_id",
            F.posexplode(tokenize(normalize_text("text"))).alias("pos", "w"),
        )
        .where(F.col("w") != "")
    )
    blk = F.floor(F.col("pos") / 3).cast("long")
    h = F.conv(
        F.substring(
            F.md5(
                F.encode(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"), blk.cast("string")
                    ),
                    "UTF-8",
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    marked = toks.select(
        "doc_id", "pos", F.when(h % 20 < 3, 1).otherwise(0).alias("masked")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        marked.where(F.col("masked") == 1)
        .withColumn(
            "run_start",
            F.when(F.lag("pos").over(w) == F.col("pos") - 1, 0).otherwise(1),
        )
        .groupBy("doc_id")
        .agg(F.sum("run_start").cast("long").alias("n_spans"))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("masked").cast("long").alias("n_masked"),
            (F.sum("masked").cast("double") / F.count(F.lit(1))).alias("masked_frac"),
        )
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            "masked_frac",
        )
    )


@register(
    "q_agg_countmin_merge",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, t.w AS word FROM
        (SELECT doc_id, {SQL_TOKS} AS tk FROM documents), unnest(tk) AS t(w)
        WHERE t.w <> ''
    ), half AS (SELECT CAST(max(doc_id) // 2 AS BIGINT) AS h FROM documents),
    tc AS (SELECT word, COUNT(*) AS true_count FROM toks GROUP BY word),
    grid AS (SELECT i FROM range(4) AS r(i)),
    tca AS (
        SELECT word, COUNT(*) AS cnt FROM toks, half
        WHERE doc_id <= h GROUP BY word
    ), tcb AS (
        SELECT word, COUNT(*) AS cnt FROM toks, half
        WHERE doc_id > h GROUP BY word
    ), cms_a AS (
        SELECT g.i AS i,
               CAST('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || t.word),
                                   1, 4) AS BIGINT) % 64 AS bucket,
               CAST(SUM(t.cnt) AS BIGINT) AS c
        FROM tca t CROSS JOIN grid g GROUP BY 1, 2
    ), cms_b AS (
        SELECT g.i AS i,
               CAST('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || t.word),
                                   1, 4) AS BIGINT) % 64 AS bucket,
               CAST(SUM(t.cnt) AS BIGINT) AS c
        FROM tcb t CROSS JOIN grid g GROUP BY 1, 2
    ), merged AS (
        SELECT i, bucket, CAST(SUM(c) AS BIGINT) AS c FROM (
            SELECT * FROM cms_a UNION ALL SELECT * FROM cms_b
        ) GROUP BY i, bucket
    ), probes AS (
        SELECT word, true_count FROM tc
        ORDER BY true_count DESC, word ASC LIMIT 10
    ), pb AS (
        SELECT p.word, p.true_count, g.i AS i,
               CAST('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || p.word),
                                   1, 4) AS BIGINT) % 64 AS bucket
        FROM probes p CROSS JOIN grid g
    )
    SELECT pb.word,
           CAST(MIN(pb.true_count) AS BIGINT) AS true_count,
           CAST(MIN(m.c) AS BIGINT) AS cms_est_merged
    FROM pb JOIN merged m ON pb.i = m.i AND pb.bucket = m.bucket
    GROUP BY pb.word
    """,
)
def q_agg_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch MERGEABILITY — the property that makes sketches
    the 100 TB answer: two partition-local sketches (corpus halves by
    doc_id) combine by plain cell-wise addition into a sketch identical
    to the single-pass one, so a 1000-executor build is embarrassingly
    parallel with a d*w-cell combine. The query builds both half
    sketches, merges them, and answers the same heavy-hitter point
    queries as q_agg_countmin — the driver hash then pins
    merge(build(A), build(B)) == build(A ∪ B) cell-for-cell (the
    estimates here EQUAL q_agg_countmin's by construction)."""
    d = t(spark, sf_dir, "documents")
    toks = (
        ensure_parallelism(d)
        .select(
            "doc_id", F.explode(tokenize(normalize_text("text"))).alias("word")
        )
        .where(F.col("word") != "")
    )
    half = d.agg(F.floor(F.max("doc_id") / 2).cast("long").alias("h"))
    toks = toks.crossJoin(F.broadcast(half))
    grid = spark.range(4).select(F.col("id").cast("long").alias("i"))

    def bucket(word_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.encode(
                            F.concat(F.col("i").cast("string"), F.lit(":"), word_col),
                            "UTF-8",
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 64
        )

    def half_cells(pred):
        tc_h = (
            toks.where(pred)
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            tc_h.crossJoin(F.broadcast(grid))
            .groupBy("i", bucket(F.col("word")).alias("bucket"))
            .agg(F.sum("cnt").cast("long").alias("c"))
        )

    merged = (
        half_cells(F.col("doc_id") <= F.col("h"))
        .unionByName(half_cells(F.col("doc_id") > F.col("h")))
        .groupBy("i", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    tc = toks.groupBy("word").agg(F.count(F.lit(1)).alias("true_count"))
    probes = tc.orderBy(F.desc("true_count"), F.asc("word")).limit(10)
    pb = probes.crossJoin(F.broadcast(grid)).select(
        "word", "true_count", "i", bucket(F.col("word")).alias("bucket")
    )
    return (
        pb.join(F.broadcast(merged), ["i", "bucket"])
        .groupBy("word")
        .agg(
            F.min("true_count").cast("long").alias("true_count"),
            F.min("c").cast("long").alias("cms_est_merged"),
        )
    )
