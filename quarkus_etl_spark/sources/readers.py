"""Readers (SURVEY.md Tier A1 "JDBC source scan" + file formats).

The reference's source scan pushes one arbitrary SQL string to the source
engine and streams the cursor (EtlMain.kt:103-108). Spark equivalents:

- JDBC: `format("jdbc").option("query", sql)` — the *whole query* is pushed
  down, exactly like the reference; `partition_column/num_partitions` add
  what the reference never had: parallel range-partitioned reads.
- Files: Spark's native parquet/csv/json readers, called directly
  (`spark.read...`) — Catalyst prunes columns and pushes predicates into
  the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jdbc_read_options(
    url: str,
    query: str | None = None,
    table: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 2000,
    **options: str,
) -> dict[str, str]:
    """Assemble the JDBC reader option map (pure — no live connection), so
    the transport contract is testable in an image without a driver jar:
    whole-query pushdown XOR table scan, fetchsize default 2000 (the
    reference's cursor batch), range-partitioned parallel reads."""
    if (query is None) == (table is None):
        raise ValueError("exactly one of query= or table= is required")
    opts: dict[str, str] = {"url": url, "fetchsize": str(fetchsize)}
    if driver:
        opts["driver"] = driver  # A14 engine-by-config
    if query is not None:
        opts["query"] = query
    else:
        opts["dbtable"] = table  # type: ignore[assignment]
        if partition_column is not None:
            opts.update(
                partitionColumn=partition_column,
                lowerBound=str(lower_bound),
                upperBound=str(upper_bound),
                numPartitions=str(num_partitions or 8),
            )
    opts.update(options)
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    **kwargs,
) -> DataFrame:
    """Whole-query JDBC pushdown (A1). With `partition_column` bounds, Spark
    issues `num_partitions` range-sliced queries in parallel — the scale
    path the reference's single cursor can't take."""
    return spark.read.format("jdbc").options(**jdbc_read_options(url, **kwargs)).load()
