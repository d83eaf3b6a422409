"""Degenerate-input behavior of the core operators: empty tables, null and
empty text, single-row corpora. A 100 TB pipeline hits every one of these in
some partition (a new source with no rows yet, a scraper emitting nulls, a
block with one member); operators must return empty/passthrough results, not
throw — the same discipline the reference applies to its empty-result-set
paths (reference EtlMain.kt:89-101 loops over whatever the cursor yields,
including nothing).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


@pytest.fixture(scope="module")
def messy_docs(spark):
    rows = [
        (0, None, "en", "web", 0),                      # null text
        (1, "", "en", "web", 0),                        # empty text
        (2, "   ", None, "web", 3),                     # whitespace text, null block
        (3, "one", "de", "web", 3),                     # single token
        (4, "alpha beta gamma delta", "de", "web", 22), # normal
        (5, "alpha beta gamma delta", "de", "web", 22), # exact duplicate of 4
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_chunked_empty_and_degenerate(spark, empty_docs, messy_docs):
    from quarkus_etl_spark.functions.text import chunked, normalize_text, tokenize

    assert chunked(empty_docs, tokenize(normalize_text("text")), 4, 3).count() == 0
    out = chunked(
        messy_docs, tokenize(normalize_text("text")), 4, 3, keep=["doc_id"]
    ).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # null text -> ZERO chunks (a missing doc has nothing to chunk; the
    # oracles' unnest-of-NULL emits no rows)
    assert 0 not in by_doc
    # empty/whitespace text -> [""] single token -> exactly one chunk
    assert [len(by_doc[i]) for i in (1, 2, 3)] == [1, 1, 1]
    # 4 tokens, window 4 stride 3 -> starts 0 and 3 (ragged tail)
    assert sorted((r["start_tok"], len(r["chunk"])) for r in by_doc[4]) == [
        (0, 4),
        (3, 1),
    ]


def test_jaccard_pairs_empty_null_single(spark, empty_docs, messy_docs, monkeypatch):
    from quarkus_etl_spark.operators import dedup
    from quarkus_etl_spark.operators.dedup import ngram_jaccard_pairs

    # the default cap routes to the exhaustive plan, -1 to prefix filtering
    for cap in (dedup.EXHAUSTIVE_MAX_DOCS, -1):
        monkeypatch.setattr(dedup, "EXHAUSTIVE_MAX_DOCS", cap)
        assert (
            ngram_jaccard_pairs(
                empty_docs, "doc_id", "text", block_col="lang", threshold=0.5
            ).count()
            == 0
        )
        pairs = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                messy_docs, "doc_id", "text", block_col="lang", threshold=0.5
            ).collect()
        }
        # nulls/empties produce no features and never pair; the exact
        # duplicate pair in the 'de' block is found by both plans
        assert pairs == {(4, 5)}, cap


def test_incremental_jaccard_asymmetric_and_empty_delta(spark, empty_docs, messy_docs):
    from quarkus_etl_spark.operators.dedup import incremental_jaccard_pairs

    # empty incoming batch -> no pairs, no error
    assert (
        incremental_jaccard_pairs(
            messy_docs, empty_docs, "doc_id", "text", block_col="lang", threshold=0.5
        ).count()
        == 0
    )
    # the exact-dup pair (4,5) is found only when it crosses the
    # existing/incoming boundary, and only in (exist, new) orientation
    ex = messy_docs.where("doc_id <= 4")
    inc = messy_docs.where("doc_id > 4")
    rows = incremental_jaccard_pairs(
        ex, inc, "doc_id", "text", block_col="lang", threshold=0.5
    ).collect()
    assert [(r["id_exist"], r["id_new"]) for r in rows] == [(4, 5)]
    # both docs on the existing side -> not reported
    assert (
        incremental_jaccard_pairs(
            messy_docs, empty_docs.unionAll(messy_docs.where("doc_id < 0")),
            "doc_id", "text", block_col="lang", threshold=0.5,
        ).count()
        == 0
    )


def test_dedup_cluster_passthrough_on_no_pairs(spark, messy_docs):
    from quarkus_etl_spark.operators.cluster import dedup_keep_canonical

    no_pairs = spark.createDataFrame([], "id_a long, id_b long")
    kept = dedup_keep_canonical(
        messy_docs.select("doc_id", "lang"), no_pairs, "doc_id"
    )
    assert kept.count() == messy_docs.count()


def test_exact_dedup_handles_null_and_empty_text(spark, messy_docs):
    from quarkus_etl_spark.operators.dedup import dedup_exact

    kept = dedup_exact(messy_docs, ["text"], "doc_id")
    ids = {r["doc_id"] for r in kept.collect()}
    # one of (4,5) dropped (keep-first by doc_id); null/empty/whitespace
    # texts are distinct keys and each survives
    assert 4 in ids and 5 not in ids
    assert {0, 1, 2, 3} <= ids


def test_text_scoring_null_safe(spark, messy_docs):
    from quarkus_etl_spark.functions.text import quality_score

    rows = messy_docs.select(
        "doc_id", quality_score("text").alias("q")
    ).collect()
    got = {r["doc_id"]: r["q"] for r in rows}
    assert got[0] is None          # null text -> null score, no throw
    assert got[1] is not None and 0.0 <= got[1] <= 1.0
    assert 0.0 <= got[4] <= 1.0


def test_asof_join_empty_sides(spark):
    from quarkus_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100)], "k long, l_ts long"
    ).withColumn("l_ts", F.timestamp_seconds("l_ts"))
    empty_right = spark.createDataFrame([], "k long, r_ts timestamp, val double")
    out = asof_join(
        left, empty_right, on="k", left_ts="l_ts", right_ts="r_ts",
        right_value_cols=["val"],
    )
    rows = out.collect()
    # left row survives with null right-side columns (left-outer as-of)
    assert len(rows) == 1 and rows[0]["asof_val"] is None

    empty_left = spark.createDataFrame([], "k long, l_ts timestamp")
    right = spark.createDataFrame(
        [(1, 50, 1.5)], "k long, r_ts long, val double"
    ).withColumn("r_ts", F.timestamp_seconds("r_ts"))
    assert (
        asof_join(
            empty_left, right, on="k", left_ts="l_ts", right_ts="r_ts",
            right_value_cols=["val"],
        ).count()
        == 0
    )


def test_dirty_csv_captures_corrupt_rows(spark, sf_dir):
    """The PERMISSIVE scan must capture exactly the 7 planted bad lines in
    _corrupt_record (none silently dropped, none crashing the read)."""
    from quarkus_etl_spark.queries import all_query_callables
    from quarkus_etl_spark.queries.lifecycle_q import _scratch

    all_query_callables()["q_scan_csv_dirty"](spark, sf_dir).collect()
    import pyspark.sql.functions as F  # noqa: F811

    raw = (
        spark.read.schema(
            "n_nationkey int, n_name string, n_regionkey int, _corrupt_record string"
        )
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(_scratch(sf_dir, "nation_dirty.csv"))
        .cache()  # Spark forbids querying ONLY _corrupt_record off a raw scan
    )
    try:
        assert raw.where(F.col("_corrupt_record").isNotNull()).count() == 7
    finally:
        raw.unpersist()


def test_retrieval_family_degenerate_docs(spark, messy_docs, tmp_path):
    """The wave-4/5 retrieval queries run on a corpus containing null,
    empty, whitespace-only and single-token documents without throwing,
    and exclude exactly the docs with no usable features."""
    path = str(tmp_path / "documents.parquet")
    messy_docs.write.mode("overwrite").parquet(path)
    sf_dir = str(tmp_path)

    from quarkus_etl_spark.queries.curation_q import (
        q_corpus_entropy,
        q_text_bigram_lp,
        q_text_bm25,
        q_text_postings,
    )

    bm = {r["doc_id"] for r in q_text_bm25(spark, sf_dir).collect()}
    # null text -> no tokens at all; empty/whitespace text normalizes to a
    # singleton '' token (string_split semantics, IDENTICAL in DuckDB — the
    # oracle-pinned contract), so docs 1/2 score against the '' term
    assert 0 not in bm
    assert 4 in bm and 5 in bm

    bg = {r["doc_id"]: r["n_bigrams"] for r in q_text_bigram_lp(spark, sf_dir).collect()}
    assert 3 not in bg  # single token -> no bigrams
    assert bg[4] == 3

    ent = q_corpus_entropy(spark, sf_dir).collect()
    assert all(r["entropy"] >= 0.0 for r in ent)

    post = {r["term"]: r["df"] for r in q_text_postings(spark, sf_dir).collect()}
    assert post.get("alpha") == 2


def test_outlier_mad_keeps_all_null_group(spark, tmp_path):
    """A group whose quantities are ALL NULL must survive q_outlier_mad with
    NULL med/mad, 0 outliers and its full row count — exactly what the DuckDB
    oracle produces (quantile_cont -> NULL but the group row remains). The
    pre-r5 inner join to the histogram-derived median silently erased the
    group (ADVICE r4, analytics_q.py)."""
    import duckdb

    rows = [
        ("A", 1.0), ("A", 2.0), ("A", 3.0), ("A", 100.0), ("A", None),
        ("N", None), ("N", None), ("N", None),
    ]
    li = spark.createDataFrame(rows, "l_returnflag string, l_quantity double")
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    from quarkus_etl_spark.queries.analytics_q import q_outlier_mad
    from quarkus_etl_spark.queries.base import ORACLES

    got = {
        r["l_returnflag"]: (r["med"], r["mad"], r["n_outliers"], r["n"])
        for r in q_outlier_mad(spark, str(tmp_path)).collect()
    }
    assert set(got) == {"A", "N"}, "all-NULL group N vanished"
    assert got["N"] == (None, None, 0, 3)
    assert got["A"][3] == 5  # NULL quantity still counts in n

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    oracle = {
        r[0]: tuple(r[1:])
        for r in con.execute(ORACLES["q_outlier_mad"]).fetchall()
    }
    assert got == oracle
