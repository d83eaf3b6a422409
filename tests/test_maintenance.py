"""Table maintenance: partitioned layout + pruning, small-file compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from quarkus_etl_spark.catalog import load_table
from quarkus_etl_spark.sources.maintenance import (
    _data_files,
    compact_small_files,
    write_partitioned,
)


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    write_partitioned(ev, out, ["event_type"])
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


def test_compact_small_files_preserves_values(spark, sf_dir, tmp_path):
    out = str(tmp_path / "frag")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.repartition(64).write.parquet(out)  # fragment: 64 tiny files
    assert len(_data_files(out)) >= 64
    before = spark.read.parquet(out)
    before_rows = before.count()
    n_after = compact_small_files(spark, out, target_file_bytes=64 * 1024 * 1024)
    assert n_after < 8  # tiny dataset bin-packs to very few files
    after = spark.read.parquet(out)
    assert after.count() == before_rows
    src = ev
    assert after.exceptAll(src).count() == 0 and src.exceptAll(after).count() == 0


def test_compact_partitioned_keeps_layout(spark, sf_dir, tmp_path):
    out = str(tmp_path / "frag_part")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.repartition(32).write.partitionBy("event_type").parquet(out)
    frag = len(_data_files(out))
    n_after = compact_small_files(
        spark, out, target_file_bytes=64 * 1024 * 1024, partition_by=["event_type"]
    )
    assert n_after < frag
    back = spark.read.parquet(out)
    # hive layout preserved: partition column still prunes at the scan
    plan = (
        back.where(F.col("event_type") == "click")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_type" in pf and "click" in pf
    assert back.count() == ev.count()
    assert back.select("event_id").exceptAll(ev.select("event_id")).count() == 0
