"""LIVE JDBC end-to-end over embedded Derby — the one JDBC driver the
image's Spark classpath actually carries (derby-10.16.1.1.jar, shipped for
the Hive metastore). These tests execute the reference's core transport
for real — JDBC source cursor -> transform -> batched JDBC sink
(reference EtlMain.kt:76-88) — where the structural tests in
test_engine.py only pin the option assembly.

Derby also demonstrates WHY the reference uppercases identifiers
(ClassMapMapper.kt:21): unquoted SQL identifiers case-fold (to upper in
Derby, like Oracle/H2; to lower in Postgres), so a portable ETL writes
uppercase column names and unquoted pushdown SQL matches everywhere.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quarkus_etl_spark.catalog import load_table
from quarkus_etl_spark.config import EtlJob, WriteTarget
from quarkus_etl_spark.jobs import JobRunner
from quarkus_etl_spark.sources.readers import read_jdbc
from quarkus_etl_spark.sources.writers import jdbc_write_options, write_jdbc

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory) -> str:
    db = tmp_path_factory.mktemp("derby") / "etldb"
    return f"jdbc:derby:{db};create=true"


@pytest.fixture(scope="module")
def seeded_nation(spark, sf_dir, derby_url):
    """Seed Derby with the nation fixture through the repo's batched JDBC
    writer (reference A2/A3 sink), uppercased per the reference's
    identifier convention (A6) so unquoted Derby SQL resolves."""
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("N_NATIONKEY"),
        F.col("n_name").alias("N_NAME"),
        F.col("n_regionkey").alias("N_REGIONKEY"),
    )
    write_jdbc(
        nation, derby_url, "NATION_SRC", mode="overwrite", driver=DERBY_DRIVER
    )
    return nation


def test_jdbc_whole_query_pushdown_live(spark, derby_url, seeded_nation):
    """A1 for real: the filter runs inside Derby (whole-query pushdown),
    and the result matches the same computation on the parquet side."""
    out = read_jdbc(
        spark,
        derby_url,
        query="SELECT N_NATIONKEY, N_NAME FROM NATION_SRC WHERE N_REGIONKEY = 2",
        driver=DERBY_DRIVER,
    )
    expected = (
        seeded_nation.where(F.col("N_REGIONKEY") == 2)
        .select("N_NATIONKEY", "N_NAME")
        .collect()
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, expected))


def test_jdbc_partitioned_parallel_read_live(spark, derby_url, seeded_nation):
    """Range-partitioned parallel JDBC scan: num_partitions range-sliced
    queries, together returning exactly the table (the scale path the
    reference's single cursor never had)."""
    out = read_jdbc(
        spark,
        derby_url,
        table="NATION_SRC",
        partition_column="N_NATIONKEY",
        lower_bound=0,
        upper_bound=24,
        num_partitions=4,
        driver=DERBY_DRIVER,
    )
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == seeded_nation.count()
    assert out.agg(F.sum("N_NATIONKEY")).first()[0] == seeded_nation.agg(
        F.sum("N_NATIONKEY")
    ).first()[0]


def test_jdbc_to_jdbc_reference_job_live(spark, derby_url, seeded_nation):
    """The reference's whole shape, live: extract SQL against a JDBC
    source view -> uppercase normalization -> batched JDBC write to a
    second table in the same engine (the jobs.properties copy job,
    reference application.properties:18-22), then read the target back
    and check rows and the job's observed counter."""
    read_jdbc(
        spark, derby_url, table="NATION_SRC", driver=DERBY_DRIVER
    ).createOrReplaceTempView("jdbc_nation")

    job = EtlJob(
        name="derby_copy",
        extract="SELECT n_nationkey, n_name FROM jdbc_nation WHERE n_nationkey < 10",
        write=WriteTarget(
            format="jdbc",
            mode="overwrite",
            options=jdbc_write_options(
                derby_url, "NATION_TGT", driver=DERBY_DRIVER
            ),
        ),
    )
    result = JobRunner(spark).run_job(job)
    assert result.rows == 10
    back = read_jdbc(spark, derby_url, table="NATION_TGT", driver=DERBY_DRIVER)
    # Normalization (A6) uppercased the extract's lowercase aliases on the
    # way out, so the target's columns are uppercase in Derby.
    assert set(back.columns) == {"N_NATIONKEY", "N_NAME"}
    assert back.count() == 10
    assert back.agg(F.max("N_NATIONKEY")).first()[0] == 9


@pytest.mark.parametrize("num_partitions", [None, 2, 8, 16])
def test_job_rows_counted_for_jdbc_sink_with_num_partitions_live(
    spark, derby_url, num_partitions
):
    """JobResult.rows counts a JDBC sink's rows whatever its
    `numPartitions`. Spark's own handling of that option (a
    df.rdd.getNumPartitions call before the write, which Spark runs as a
    SQL execution of its own) completed the job's row Observation at 0,
    even where nothing was coalesced (16 > 8 partitions); the writer now
    applies the cap as a coalesce of its own plan."""
    spark.range(5000).repartition(8).selectExpr(
        "id AS ID", "id * 2 AS V"
    ).createOrReplaceTempView("rows_src")
    table = f"ROWS_NP_{num_partitions or 0}"
    opts = jdbc_write_options(derby_url, table, driver=DERBY_DRIVER)
    if num_partitions:
        opts["numPartitions"] = str(num_partitions)
    job = EtlJob(
        name=f"rows_np_{num_partitions}",
        extract="SELECT * FROM rows_src",
        write=WriteTarget(format="jdbc", mode="overwrite", options=opts),
    )
    (result,) = JobRunner(spark).run([job])
    back = read_jdbc(spark, derby_url, table=table, driver=DERBY_DRIVER)
    assert result.rows == 5000
    assert back.count() == 5000
    assert back.agg(F.sum("V")).first()[0] == 2 * sum(range(5000))


def test_jdbc_sink_rejects_non_positive_num_partitions(spark, derby_url):
    job = EtlJob(
        name="rows_np_0",
        extract="SELECT 1 AS ID",
        write=WriteTarget(
            format="jdbc",
            mode="overwrite",
            options={**jdbc_write_options(derby_url, "ROWS_NP_BAD",
                                          driver=DERBY_DRIVER),
                     "numPartitions": "0"},
        ),
    )
    with pytest.raises(ValueError, match="numPartitions"):
        JobRunner(spark).run([job])


def test_streaming_etl_into_jdbc_live(spark, sf_dir, derby_url, tmp_path):
    """The reference's consumer loop, live AND streaming: a file stream
    micro-batched through foreachBatch into Derby via the batched JDBC
    writer (writers.py::write_dataframe) — every source row lands in the
    target table exactly once (checkpointed progress + append batches)."""
    from pyspark.sql import functions as F  # noqa: F811
    from quarkus_etl_spark.catalog import load_table
    from quarkus_etl_spark.config import WriteTarget
    from quarkus_etl_spark.sources.writers import jdbc_write_options, write_dataframe
    from quarkus_etl_spark.streaming.streams import file_stream

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path / "src")
    ev.select("event_id", "user_id", "value").repartition(4).write.parquet(src)

    # Pre-create the target so concurrent micro-batches only INSERT
    # (Derby DDL from parallel batches would race on CREATE TABLE).
    spark.createDataFrame([], "event_id long, user_id long, value double").write.format(
        "jdbc"
    ).options(
        **jdbc_write_options(derby_url, "EVENTS_STREAMED", driver=DERBY_DRIVER)
    ).mode("overwrite").save()

    target = WriteTarget(
        format="jdbc",
        mode="append",
        options=jdbc_write_options(derby_url, "EVENTS_STREAMED", driver=DERBY_DRIVER),
    )
    q = (
        file_stream(spark, src, max_files_per_trigger=2)
        .select("event_id", "user_id", "value")
        .writeStream.foreachBatch(lambda batch, _id: write_dataframe(batch, target))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    from quarkus_etl_spark.sources.readers import read_jdbc

    back = read_jdbc(spark, derby_url, table="EVENTS_STREAMED", driver=DERBY_DRIVER)
    assert back.count() == ev.count()
    assert back.select("event_id").distinct().count() == ev.count()
