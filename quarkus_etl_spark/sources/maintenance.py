"""Table maintenance for file-backed datasets — the housekeeping a 100 TB
pipeline runs continuously:

- `write_partitioned`: hive-style partition layout (dt=.../part files) so
  date/key predicates prune whole directories at the SCAN (PartitionFilters
  in the plan), the single biggest lever for time-ranged queries over an
  append-only corpus.

The reference has no table maintenance at all (its sink is an RDBMS —
EtlMain.kt:76-88); this is the Spark-native equivalent of what its users get
for free from the warehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-layout partitioned write. Readers filtering on the partition
    columns scan only matching directories — partition pruning happens at
    planning, before any file is opened."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)
