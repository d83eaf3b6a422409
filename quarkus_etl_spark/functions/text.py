"""Text analytics primitives for training-data pipelines (SURVEY.md Tier C
q_text_*): tokenization, n-grams/shingles, language-ID heuristic, quality
scoring, fingerprinting.

All pure Column expressions (codegen'd, no UDFs). Each primitive is designed
so a SQL engine can replicate it exactly — that is what makes the Tier-C
queries oracle-checkable instead of rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword pools for the n-gram/stopword-overlap
# language heuristic. Deliberately small + public-knowledge words only.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "de", "pour", "dans"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "de", "para", "en"),
}


def tokenize(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text (empty-safe)."""
    text = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(text), "\\s+")


def normalize_text(text: Column | str) -> Column:
    """lowercase + whitespace collapse + trim — the canonical form used for
    fingerprinting and exact dedup."""
    text = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    Portable across engines (DuckDB md5 produces identical hex)."""
    return F.md5(normalize_text(text))


def ngrams(tokens: Column, n: int = 2) -> Column:
    """Word n-grams from a token array: join of tokens[i..i+n-1].

    Branch-free short-input handling: `slice` past the array end is just a
    shorter (or empty) slice — never an ANSI index error — and the final
    outer slice trims the ragged tail, so arrays with < n tokens yield [].
    The lambda body is a single slice+array_join (not n element lookups):
    higher-order-function lambdas evaluate INTERPRETED (CodegenFallback),
    and when the n-gram array feeds `explode` the whole expression sits in
    the Generate node where a fat lambda costs 5-20x (measured at n=5).
    A `when`-guarded variant is ~2.4x slower again (the conditional defeats
    fusion of the array pipeline)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(tokens) - (n - 1), F.lit(1)))
    grams_full = F.transform(idx, lambda i: F.array_join(F.slice(tokens, i, n), " "))
    return F.slice(grams_full, 1, F.greatest(F.size(tokens) - (n - 1), F.lit(0)))


def stopword_overlap(tokens: Column, lang: str) -> Column:
    """# of distinct stopwords of `lang` present in the token set."""
    pool = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(F.array_distinct(tokens), pool))


def language_scores(tokens: Column) -> list[Column]:
    """One aliased score column per language (distinct-stopword hits)."""
    return [stopword_overlap(tokens, lang).alias(f"score_{lang}") for lang in STOPWORDS]


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length saturation, alpha ratio,
    mean token length band. Exactly replicable in SQL (no randomness, no
    floats beyond deterministic per-row arithmetic)."""
    text = F.col(text) if isinstance(text, str) else text
    toks = tokenize(text)
    n_chars = F.length(text).cast("double")
    n_alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("double")
    n_tokens = F.size(toks).cast("double")
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1.0))
    mean_tok = n_chars / F.greatest(n_tokens, F.lit(1.0))
    tok_score = F.when((mean_tok >= 3.0) & (mean_tok <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_score * 0.4 + alpha_ratio * 0.4 + tok_score * 0.2)


# PII patterns, kept to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, \d.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{4}"


def redact_pii(text: Column | str) -> Column:
    """Replace every email, then every phone-shaped number, with typed
    placeholder tags. Spark's regexp_replace is global by default (the
    DuckDB mirror needs the explicit 'g' flag). Emails first: their
    replacement tag contains no digits, so the phone pass cannot re-match
    inside it."""
    text = F.col(text) if isinstance(text, str) else text
    no_email = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, PHONE_RE, "<PHONE>")


def pii_counts(text: Column | str) -> list[Column]:
    """Aliased match counts per PII class (detection, pre-redaction)."""
    text = F.col(text) if isinstance(text, str) else text
    return [
        F.regexp_count(text, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(text, F.lit(PHONE_RE)).alias("n_phones"),
    ]


def chunked(df, tokens: Column, window: int = 20, stride: int = 15, keep=None):
    """Fan a document out to one row per sliding token chunk (the
    LLM-training chunker): starts at 0, stride, 2·stride, … while
    start < n_tokens; each chunk is tokens[start .. start+window-1], the
    tail chunk ragged. Per-row column algebra, zero shuffle at any scale.

    Higher-order-function lambdas are CodegenFallback: an explode over a
    struct-building `transform(...)` evaluates the whole lambda tree
    interpreted inside the Generate node, per output row (measured 3-8x
    slower on the fixture corpus, worse with longer docs). Here only
    `sequence(0, n-1, stride)` — a plain codegen'd expression — is
    exploded; the chunk itself is sliced from the projected token array
    ABOVE the Generate, inside whole-stage codegen.

    Returns `keep` columns (default: all input columns) plus
    (chunk_id, start_tok, chunk).
    """
    cols = list(keep if keep is not None else df.columns)
    base = df.select(*cols, tokens.alias("__tk"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__tk") - F.lit(1), F.lit(0)), F.lit(stride)
    )
    # NULL token arrays (NULL text) produce ZERO chunks: greatest() silently
    # drops the NULL size and would emit one ghost chunk per missing doc
    # (fuzz_diff phase 3); posexplode of NULL emits nothing, matching the
    # oracles' unnest-of-NULL.
    starts = F.when(F.col("__tk").isNotNull(), starts)
    ex = base.select(*cols, "__tk", F.posexplode(starts).alias("chunk_id", "start_tok"))
    return ex.select(
        *cols,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.slice("__tk", F.col("start_tok") + 1, window).alias("chunk"),
    )


def ngram_hashes(tokens: Column) -> Column:
    """Hashes of word bigrams, skipping string materialization: for
    identity-only consumers (Jaccard, MinHash, SimHash features) the bigram
    STRING is never needed, so hash the token pair directly —
    `zip_with(tokens[0:k], tokens[1:k], xxhash64)`. The expression tree is
    a fraction of `ngrams()`+concat+hash, which matters both at runtime and
    in codegen compile time for the big dedup plans."""
    k = F.size(tokens) - 1
    return F.zip_with(
        F.slice(tokens, 1, F.greatest(k, F.lit(0))),
        F.slice(tokens, 2, F.greatest(k, F.lit(0))),
        lambda x, y: F.xxhash64(x, y),
    )


# Per-row strategy switch for max_token_count: below this length the
# transform-over-distinct histogram's tight codegen wins (measured 50 s vs
# 66 s sorted at 500k web-shaped docs); above it the O(L·V) term explodes
# (book-length docs) and the O(L log L) sorted-run form takes over.
MAX_TOKEN_HIST_LEN = 1024


def _max_count_hist(tokens: Column) -> Column:
    """max token multiplicity via histogram: O(L·V) per row."""
    return F.array_max(
        F.transform(
            F.array_distinct(tokens),
            lambda w: F.size(F.filter(tokens, lambda x: x == w)),
        )
    )


def _max_count_sorted(tokens: Column) -> Column:
    """max token multiplicity via sorted runs: O(L log L) per row.

    A token's multiplicity equals its run length in the sorted array, so
    max multiplicity = longest equal-adjacent run. The run scan is ONE
    aggregate() fold over the sorted array — the fold's input is evaluated
    once per row. The previous form indexed the sorted array with
    element_at(s, i) INSIDE a filter lambda; higher-order lambdas are
    interpreted (never codegen'd) and interpreted eval has no common-
    subexpression elimination, so each of the L lambda calls re-ran the
    O(L log L) ArraySort — O(L² log L) per row, ~30 s for ONE 3000-token
    document inside a Filter (round-5 fuzz: q_corpus_pipeline 151 s on a
    500-doc fixture; 2.4 s after this rewrite)."""
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(
        F.array_sort(tokens), acc0, step, lambda acc: acc["best"]
    )


def max_token_count(tokens: Column) -> Column:
    """Most-common-token multiplicity, adaptive per ROW: histogram below
    MAX_TOKEN_HIST_LEN tokens, sorted-run above. Both compute the exact
    same integer (a token's count IS its sorted-run length), so the switch
    is invisible to results — only the per-row cost model changes. No
    shuffle either way; the operator stays map-only at any corpus size."""
    return F.when(
        F.size(tokens) <= MAX_TOKEN_HIST_LEN, _max_count_hist(tokens)
    ).otherwise(_max_count_sorted(tokens))
