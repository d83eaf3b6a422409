"""Writers (SURVEY.md Tier A2-A3 "JDBC batch sink" + file sinks).

The reference writes micro-batches of 2000 rows through a prepared
statement (EtlMain.kt:72-88). Spark's JDBC sink batches identically via
`batchsize` — per partition, in parallel, which the reference's single
consumer could not. File sinks get the same declarative treatment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import WriteTarget

REFERENCE_BATCH_SIZE = 2000  # EtlMain.kt:74


def write_dataframe(df: DataFrame, target: WriteTarget) -> None:
    fmt = target.format.lower()
    if fmt == "jdbc":
        opts = {"batchsize": str(REFERENCE_BATCH_SIZE), **target.options}
        # Spark's JDBC sink applies `numPartitions` by calling
        # df.rdd.getNumPartitions before its write. Spark 4.1 builds
        # Dataset.rdd inside a SQL execution of its own, which ends before
        # any row is read, and an Observation completes from the first
        # execution that ends: JobResult.rows read 0 for every such sink.
        # The same cap as a coalesce of our own plan keeps the count and
        # adds no Spark job: coalesce(n) never raises the partition
        # count, exactly like the option.
        n_key = next((k for k in opts if k.lower() == "numpartitions"), None)
        if n_key is not None:
            n = int(opts.pop(n_key))
            if n <= 0:
                raise ValueError(f"jdbc numPartitions must be positive, got {n}")
            df = df.coalesce(n)
        df.write.format("jdbc").options(**opts).mode(target.mode).save()
        return
    if fmt == "table":
        writer = df.write.mode(target.mode)
        if target.partition_by:
            writer = writer.partitionBy(*target.partition_by)
        writer.saveAsTable(target.table)
        return
    if target.path is None:
        raise ValueError(f"write target format={fmt} requires a path")
    writer = df.write.format(fmt).options(**target.options).mode(target.mode)
    if target.partition_by:
        writer = writer.partitionBy(*target.partition_by)
    writer.save(target.path)


def jdbc_write_options(
    url: str,
    table: str,
    batchsize: int = REFERENCE_BATCH_SIZE,
    driver: str | None = None,
    **options: str,
) -> dict[str, str]:
    """Assemble the JDBC writer option map (pure — no live connection):
    batchsize defaults to the reference's 2000-row prepared-statement batch
    (EtlMain.kt:74)."""
    opts: dict[str, str] = {"url": url, "dbtable": table, "batchsize": str(batchsize)}
    if driver:
        opts["driver"] = driver
    opts.update(options)
    return opts


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    num_partitions: int | None = None,
    **kwargs,
) -> None:
    """JDBC batch sink with the reference's 2000-row default (A2/A3).

    `num_partitions` caps concurrent connections — the analog of the
    reference's pool max 5 (DatabaseBean.kt:59), but per-partition."""
    out = df.repartition(num_partitions) if num_partitions else df
    out.write.format("jdbc").options(**jdbc_write_options(url, table, **kwargs)).mode(
        mode
    ).save()


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist (overwrite) a parquet table bucketed by its join key.

    At scale this is THE lever for repeated big-to-big joins: two tables
    bucketed into the same bucket count on the join key co-locate matching
    rows, so joins between them need no Exchange — the shuffle is paid
    once at write time instead of on every query. See
    tests/test_plans.py::test_bucketed_join_has_no_exchange for the plan
    proof. `path` makes it an EXTERNAL table at an explicit
    location (bucketing metadata still lives in the session catalog —
    that's what lets the planner elide the exchange)."""
    writer = df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
