"""Table maintenance: partitioned layout + pruning."""

from __future__ import annotations

from pyspark.sql import functions as F

from quarkus_etl_spark.catalog import load_table
from quarkus_etl_spark.config import WriteTarget
from quarkus_etl_spark.sources.writers import write_dataframe


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    write_dataframe(ev, WriteTarget(path=out, mode="overwrite", partition_by=("event_type",)))
    back = spark.read.parquet(out)
    one = back.where(F.col("event_type") == "purchase")
    # pruning is visible in the physical plan: the predicate lands in the
    # scan's PartitionFilters (planning-time directory pruning), not a
    # post-scan data Filter. (inputFiles() reflects the unpruned relation,
    # so it cannot be used to observe pruning.)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_type" in pf and "purchase" in pf
    assert one.count() == ev.where(F.col("event_type") == "purchase").count()
