"""Pins for the NULL-semantics conventions fuzz_diff established (round 4):
MISSING ≠ EMPTY everywhere, zero-norm cosine is 0.0, SQL-SUM NULL skipping
in the pandas frame UDF. fuzz_diff proves these cross-engine on mutated
fixtures; these tests pin the Spark-side conventions per-commit with inline
frames so a refactor can't silently revert to the NULL-swallowing
conveniences (concat_ws, greatest, `or ""`) that caused the original
divergences.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_guarded_cosine_zero_norm_is_zero(spark):
    from quarkus_etl_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0], [1.0, 2.0]),   # zero left norm
            (2, [1.0, 2.0], [0.0, 0.0]),   # zero right norm
            (3, [0.0, 0.0], [0.0, 0.0]),   # both zero
            (4, [1.0, 0.0], [1.0, 0.0]),   # identical -> 1.0
            (5, [1.0, 0.0], [-1.0, 0.0]),  # opposite -> -1.0
        ],
        "id long, a array<double>, b array<double>",
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", cosine_similarity("a", "b").alias("c")).collect()
    }
    assert got == {1: 0.0, 2: 0.0, 3: 0.0, 4: 1.0, 5: -1.0}


def test_cosine_to_const_zero_norm_is_zero(spark):
    from quarkus_etl_spark.functions.vectors import cosine_to_const

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0])], "id long, a array<double>"
    )
    got = {
        r["id"]: r["c"]
        for r in df.select("id", cosine_to_const("a", [1.0, 0.0]).alias("c")).collect()
    }
    assert got[1] == 0.0 and got[2] == pytest.approx(0.6)


def test_null_tokens_chunk_to_zero_rows(spark):
    from quarkus_etl_spark.functions.text import chunked

    df = spark.createDataFrame(
        [(0, None), (1, ["a", "b", "c", "d"])], "doc_id long, tk array<string>"
    )
    out = chunked(df, F.col("tk"), window=4, stride=3, keep=["doc_id"]).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 1]


def test_min_by_null_masked_ord_skips_null_values(spark):
    # the q_time_ohlc open/close convention: a NULL-valued tick never
    # becomes a bar's open/close (DuckDB arg_min/arg_max parity)
    df = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 2.0)], "k long, v double"
    )
    ord_key = F.when(F.col("v").isNotNull(), F.col("k"))
    row = df.agg(
        F.min_by("v", ord_key).alias("open"), F.max_by("v", ord_key).alias("close")
    ).collect()[0]
    assert (row["open"], row["close"]) == (5.0, 2.0)


def test_dedup_exact_null_text_keeps_null_group(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    rows = src.to_pylist()
    # two NULL docs and one genuinely-empty doc: NULLs pool together,
    # the empty doc stays its own group (missing != empty)
    for i, txt in ((0, None), (1, None), (2, "")):
        rows[i]["text"] = txt
        rows[i]["n_chars"] = 0
    import pyarrow as pa

    d = str(tmp_path)
    pq.write_table(pa.Table.from_pylist(rows, schema=src.schema), f"{d}/documents.parquet")
    from quarkus_etl_spark.queries.northstar_q import q_dedup_exact

    kept = q_dedup_exact(spark, d).collect()
    null_rows = [r for r in kept if r["bow_key"] is None]
    ids = {r["doc_id"] for r in kept}
    assert len(null_rows) == 1 and null_rows[0]["doc_id"] == min(
        rows[0]["doc_id"], rows[1]["doc_id"]
    )
    assert rows[2]["doc_id"] in ids  # the empty doc survives separately


def test_pandas_frame_udf_sum_null_semantics(spark):
    # pd must be a MODULE-level import: pandas_udf resolves the stringified
    # `pd.Series` annotation against the function's globals
    from pyspark.sql.window import Window

    @F.pandas_udf("long")
    def cents_sum(v: pd.Series) -> int | None:
        v = v.dropna()
        if v.empty:
            return None
        return int((v * 100).round().astype("int64").sum())

    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, None), (1, 3, 2.5)], "k long, i long, v double"
    )
    w = Window.partitionBy("k").orderBy("i").rowsBetween(-1, 0)
    got = {
        r["i"]: r["s"]
        for r in df.select("i", cents_sum("v").over(w).alias("s")).collect()
    }
    # frame {null} -> NULL; {null,null} -> NULL; {null,2.5} -> 250
    assert got == {1: None, 2: None, 3: 250}


def test_udaf_grouped_all_null_measure_group_sums_null(spark, tmp_path):
    """A (flag, status) group whose quantities are ALL NULL must report
    sum_qty NULL, not 0.0: pandas .sum() defaults skipna -> 0.0 where SQL
    SUM gives NULL (round-5 NULL-measure fuzz). n_rows still counts all."""
    rows = [
        ("A", "F", None, 10.0), ("A", "F", None, 20.0),
        ("R", "O", 5.0, 30.0), ("R", "O", None, 40.0),
    ]
    li = spark.createDataFrame(
        rows,
        "l_returnflag string, l_linestatus string, "
        "l_quantity double, l_extendedprice double",
    )
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    from quarkus_etl_spark.queries.udf_q import q_udaf_grouped

    got = {
        (r["l_returnflag"], r["l_linestatus"]): (r["sum_qty"], r["n_rows"])
        for r in q_udaf_grouped(spark, str(tmp_path)).collect()
    }
    assert got[("A", "F")] == (None, 2)
    assert got[("R", "O")] == (5.0, 2)


def test_cogroup_null_totalprice_matches_sql_sum(spark, tmp_path):
    """NULL o_totalprice rows: counted by n_orders (COUNT(*)), skipped by
    the sum; an all-NULL customer sums to NULL. Pre-r5 the int64 cents
    cast crashed the pandas worker on the first NaN."""
    cust = spark.createDataFrame(
        [(1, "AUTO"), (2, "BLDG")], "c_custkey long, c_mktsegment string"
    )
    orders = spark.createDataFrame(
        [(1, 10.0), (1, None), (2, None)],
        "o_custkey long, o_totalprice double",
    )
    cust.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    from quarkus_etl_spark.queries.udf_q import q_udf_cogroup

    got = {
        r["c_custkey"]: (r["n_orders"], r["total_price"])
        for r in q_udf_cogroup(spark, str(tmp_path)).collect()
    }
    assert got == {1: (2, 10.0), 2: (1, None)}


def test_window_sorts_pin_nulls_first_like_spark_default(spark, tmp_path):
    """Spark ASC is nulls-first, DuckDB ASC is nulls-LAST: q_win_ntile /
    q_win_distribution pin NULLS FIRST on both engines. NULL totalprice
    rows land in the first quartile / lowest cume band."""
    orders = spark.createDataFrame(
        [(1, 1, None), (2, 1, 50.0), (3, 1, 10.0), (4, 1, 90.0)],
        "o_orderkey long, o_custkey long, o_totalprice double",
    )
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    from quarkus_etl_spark.queries.windows_q import q_win_ntile

    got = {
        r["o_orderkey"]: r["quartile"]
        for r in q_win_ntile(spark, str(tmp_path)).collect()
    }
    assert got[1] == 1  # NULL sorts first
    assert got[4] == 4  # max price sorts last


def test_sim_pairs_oracle_tolerates_null_embeddings(tmp_path, spark):
    """DuckDB's vectorized CASE feeds NULL lists into list_inner_product
    despite the guard; the oracle must filter NULL embeddings
    structurally (round-5 fuzz: q_sim_pairs/q_dedup_embed errored)."""
    import duckdb

    # contract-dim (64) vectors: the r11 phase-8 dimension leg of the
    # oracle's structural guard excludes off-dim rows, so the NULL-
    # tolerance behavior under test needs in-contract geometry
    v = [1.0] + [0.0] * 63
    emb = spark.createDataFrame(
        [(0, 1, v), (1, 1, None), (2, 1, v)],
        "vec_id long, label int, embedding array<double>",
    )
    emb.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    from quarkus_etl_spark.queries.base import ORACLES

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    pairs = con.execute(ORACLES["q_sim_pairs"]).fetchall()  # must not raise
    assert [(r[0], r[1]) for r in pairs] == [(0, 2)]
    kept = {r[0] for r in con.execute(ORACLES["q_dedup_embed"]).fetchall()}
    assert kept == {0, 1}  # NULL-embedding row 1 survives; dup row 2 drops


def test_outlier_mad_keeps_all_null_measure_group(spark, tmp_path):
    """A returnflag group whose quantities are ALL NULL must survive with
    NULL med/mad, 0 outliers, and n = COUNT(*) — the left-joins added in
    r5 (analytics_q.py q_outlier_mad) claim this; pin it against the
    DuckDB oracle on the same fixture (VERDICT r5 item 2: point-NULL fuzz
    can never produce this shape at ~1% rates, so it needs its own pin)."""
    import duckdb

    li = spark.createDataFrame(
        [
            ("N", None), ("N", None), ("N", None),            # all-NULL group
            ("A", 10.0), ("A", 12.0), ("A", 11.0), ("A", None),
        ],
        "l_returnflag string, l_quantity double",
    )
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    from quarkus_etl_spark.queries.analytics_q import q_outlier_mad
    from quarkus_etl_spark.queries.base import ORACLES

    got = {
        r["l_returnflag"]: (r["med"], r["mad"], r["n_outliers"], r["n"])
        for r in q_outlier_mad(spark, str(tmp_path)).collect()
    }
    assert got["N"] == (None, None, 0, 3)
    assert got["A"][0] == 11.0 and got["A"][3] == 4

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    oracle = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(ORACLES["q_outlier_mad"]).fetchall()
    }
    assert oracle == got


def test_fuzz_mutators_survive_tiny_row_pools():
    """ADVICE r6: the phased mutators draw a multi-pct index budget from a
    finite shuffled pool; on a base table with fewer rows than the budget
    the build must degrade gracefully (fewer mutations), not crash with
    StopIteration. Since r10 the phase-5 FK classes draw FIRST (ADVICE r9
    #3 — tail position silently starved them on tiny pools; this very
    test's original fixture omitted l_partkey/l_suppkey and nothing
    noticed), so the fixture now carries the full FK surface the real
    parquet has."""
    import datetime as dt
    import random

    from tools.fuzz_diff import MUTATORS

    events = [
        dict(event_id=i, user_id=i % 3, ts=dt.datetime(2024, 1, 1, i % 24),
             value=float(i), props="{}", event_type="view")
        for i in range(10)
    ]
    MUTATORS["events"](events, random.Random(7), 5)
    lineitem = [
        dict(l_orderkey=i, l_partkey=i, l_suppkey=i, l_returnflag="A",
             l_quantity=1.0, l_extendedprice=2.0, l_discount=0.1,
             l_shipdate=dt.date(2024, 1, 1))
        for i in range(5)
    ]
    MUTATORS["lineitem"](lineitem, random.Random(7), 5)
    # the pool (5 rows) is smaller than the FK-class budget alone — the
    # front-positioned FK draws must have actually fired on some rows
    assert any(
        r["l_partkey"] is None or r["l_partkey"] >= 10_000_000
        or r["l_orderkey"] is None or (r["l_orderkey"] or 0) >= 10_000_000
        for r in lineitem
    )
    orders = [
        dict(o_orderkey=i, o_custkey=i, o_totalprice=10.0,
             o_orderpriority="1-URGENT", o_orderdate=dt.datetime(2024, 1, 2))
        for i in range(5)
    ]
    MUTATORS["orders"](orders, random.Random(7), 5)
    customer = [dict(c_custkey=i, c_nationkey=i % 3) for i in range(4)]
    MUTATORS["customer"](customer, random.Random(7), 5)
    supplier = [dict(s_suppkey=i, s_nationkey=i % 3) for i in range(4)]
    MUTATORS["supplier"](supplier, random.Random(7), 5)
    docs = [
        dict(doc_id=i, text=f"doc {i}", lang="en", source="s", n_chars=5)
        for i in range(4)
    ]
    MUTATORS["documents"](docs, random.Random(7), 5)
    assert len(events) == 10 and len(lineitem) == 5 and len(docs) == 4
    assert len(orders) == 5 and len(customer) == 4 and len(supplier) == 4


def test_nonfinite_money_cross_engine_divergence_is_pinned(spark):
    """Do not rediscover: Spark casts NaN/Inf double -> decimal to NULL
    (silently skipped by decimal sums — EVEN under ANSI mode), while
    DuckDB's cast ERRORS. The engines cannot agree on non-finite money, so
    the engine's documented domain is FINITE money doubles, and
    q_dq_checks' lineitem_price_finite rule is the upstream gate that
    makes the assumption checkable before any aggregate runs."""
    import duckdb
    import pytest
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    d = spark.createDataFrame(
        [(1.0,), (float("nan",),), (float("inf"),)], "v double"
    )
    got = d.select(F.col("v").cast("decimal(18,2)").alias("x")).collect()
    assert [r["x"] for r in got][1:] == [None, None]  # NaN, Inf -> NULL
    assert float(d.agg(F.sum(F.col("v").cast("decimal(18,2)"))).collect()[0][0]) == 1.0

    con = duckdb.connect()
    with pytest.raises(Exception, match="out of range|can't be cast"):
        con.execute(
            "SELECT SUM(CAST(v AS DECIMAL(18,2))) FROM "
            "(VALUES (1.0::DOUBLE), ('NaN'::DOUBLE)) t(v)"
        ).fetchall()


def test_vec_nonfinite_to_null_is_missing(spark):
    """r11 fuzz phase 7: a vector with any NaN/±Inf component maps to NULL
    at load (failed-encoder ≡ missing embedding), while -0.0 and subnormal
    components are legitimate geometry and pass through untouched. Without
    the guard, NaN reaches the cosine clamp where Spark's null-skipping
    least/greatest silently rewrites NaN to 1.0 (self-similar to
    everything) — 13 queries diverged from DuckDB before the convention
    (see base.emb / vectors.SQL_EMB_FINITE for the two mirrored halves).
    Checked through the contract guard at the rows' own dim (2), so only
    its non-finite leg can fire."""
    from quarkus_etl_spark.functions.vectors import (
        cosine_similarity,
        vec_contract_to_null,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),             # finite -> unchanged
            (2, [float("nan"), 1.0]),    # NaN component -> NULL
            (3, [1.0, float("inf")]),    # +Inf component -> NULL
            (4, [float("-inf"), 1.0]),   # -Inf component -> NULL
            (5, None),                   # NULL stays NULL
            (6, [-0.0, 0.0]),            # signed zero passes (zero-norm path)
            (7, [5e-324, 1.0]),          # subnormal passes
            (8, [1.0, None]),            # NULL component -> NULL
            (9, [None, float("nan")]),   # NULL and NaN -> NULL
        ],
        "id long, a array<double>",
    )
    guarded = df.select(
        "id",
        vec_contract_to_null("a", 2).alias("g"),
        F.lit([1.0, 0.0]).cast("array<double>").alias("p"),
    )
    out = {
        r["id"]: (r["g"], r["c"])
        for r in guarded.select("id", "g", cosine_similarity("g", "p").alias("c")).collect()
    }
    assert out[1] == ([1.0, 2.0], pytest.approx(1.0 / 5**0.5))
    assert out[2] == (None, None) and out[3] == (None, None)
    assert out[4] == (None, None) and out[5] == (None, None)
    assert out[6][0] == [-0.0, 0.0] and out[6][1] == 0.0  # zero-norm -> 0.0
    assert out[7][0] == [5e-324, 1.0] and out[7][1] is not None
    assert out[8] == (None, None) and out[9] == (None, None)


def test_vec_contract_dim_leg_rejects_ragged_and_empty(spark):
    """r11 fuzz phase 8: the dimension leg of the contract guard. A vector
    whose length breaks the declared dim is a failed encode (version skew /
    truncated write) and maps to NULL — Spark's zip_with would silently
    NULL-pad a ragged pair, and on the oracle side DuckDB's list kernels
    raise on ragged input while an EMPTY list fatally invalidates the
    whole database, so the structural exclusion must happen before any
    vector math in BOTH engines (SQL_EMB_FINITE carries the len()=dim
    conjunct). Checked on array<double> and on the fixtures' array<float>."""
    from quarkus_etl_spark.functions.vectors import vec_contract_to_null

    rows = [
        (1, [1.0, 2.0, 3.0]),        # contract dim -> unchanged
        (2, [1.0, 2.0]),             # truncated -> NULL
        (3, [1.0, 2.0, 3.0, 4.0]),   # over-long -> NULL
        (4, []),                     # empty (≠ NULL upstream) -> NULL
        (5, None),                   # NULL stays NULL
        (6, [float("nan"), 1.0, 2.0]),  # non-finite leg still applies
        (7, [1.0, float("-inf"), 2.0]),
        (8, [1.0, None, 2.0]),       # NULL component -> NULL
        (9, [None, None, None]),
        (10, [None, 1.0]),           # ragged AND a NULL component
        (11, [-0.0, 5e-45, 0.0]),    # signed zero, float subnormal pass
    ]
    for elem in ("double", "float"):
        df = spark.createDataFrame(rows, f"id long, a array<{elem}>")
        out = {
            r["id"]: r["g"]
            for r in df.select(
                "id", vec_contract_to_null("a", 3).alias("g")
            ).collect()
        }
        kept = out.pop(11)
        assert kept is not None and str(kept[0]) == "-0.0" and 0.0 < kept[1] < 1e-44
        assert out == {1: [1.0, 2.0, 3.0], 2: None, 3: None, 4: None, 5: None,
                       6: None, 7: None, 8: None, 9: None, 10: None}, elem


def test_vec_guard_is_one_parsed_expression(spark, round_trips):
    """The load-time guard is built in a fixed few py4j round trips (the
    Python-lambda form made ~100 on every emb() call) and carries no
    higher-order function, which would evaluate interpreted per row."""
    from quarkus_etl_spark.functions.vectors import vec_contract_to_null

    assert round_trips(lambda: vec_contract_to_null("embedding", 64)) <= 10
    df = spark.createDataFrame([([1.0],)], "embedding array<float>")
    plan = df.select(vec_contract_to_null("embedding", 1))._jdf.queryExecution()
    assert "lambdafunction" not in plan.analyzed().toString().lower()
