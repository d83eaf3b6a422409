"""Sequential job runner with per-job metrics (SURVEY.md Tier A11-A12).

Reference behavior being mirrored (Spark-first, not ported):
- ordered sequential execution of configured jobs (EtlMain.kt:28-37);
- per-job wall-clock seconds + row counters logged at completion
  (EtlMain.kt:49-61) — here via the `Observation` API, which rides the
  job's own write action instead of a second count() pass;
- uppercase identifier normalization + duplicate-column guard on every
  extract result (ClassMapMapper.kt:19-24);
- the write side: DDL/INSERT passthrough via `spark.sql` (A8; the extract
  result is visible to the write SQL as view `etl_source` — the analog of
  the reference's named-parameter binds `:ID, :STREET_ADDRESS, ...`,
  application.properties:21), or Spark native sinks with the reference's
  2000-row JDBC batch default (A2-A3, EtlMain.kt:74).

Where the reference streams rows through an unbounded channel
(EtlMain.kt:51 — memory-unsafe by design, SURVEY.md §7.4 item 6), Spark
plans read->transform->write as one DAG with bounded per-task memory and
spill — that quirk is deliberately not replicated.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import normalize_identifiers
from .config import EtlJob, WriteTarget
from .sources.writers import write_dataframe

log = logging.getLogger("quarkus_etl_spark.jobs")

_WRITE_SQL_PREFIXES = (
    "create", "drop", "alter", "insert", "replace", "truncate", "delete", "merge",
)


@dataclass
class JobResult:
    name: str
    rows: int
    seconds: float
    wrote: str | None = None


class JobRunner:
    """Runs an ordered list of EtlJobs on one SparkSession."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def extract(self, job: EtlJob) -> DataFrame:
        return normalize_identifiers(self.spark.sql(job.extract))  # uppercase + dup guard (A6/A7)

    def run_job(self, job: EtlJob) -> JobResult:
        start = time.monotonic()
        df = self.extract(job)
        obs = Observation(f"etl_{job.name}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        wrote: str | None = None
        rows = 0

        if job.write is None:
            rows = observed.count()
        elif isinstance(job.write, WriteTarget):
            write_dataframe(observed, job.write)
            rows = int(obs.get["rows"])
            wrote = job.write.table or job.write.path or job.write.format
        elif isinstance(job.write, str):
            stmt = job.write.strip()
            first_word = stmt.split(None, 1)[0].lower() if stmt else ""
            if first_word not in _WRITE_SQL_PREFIXES:
                raise ValueError(
                    f"job {job.name}: write SQL must start with one of {_WRITE_SQL_PREFIXES}"
                )
            references_source = "etl_source" in stmt.lower()
            if references_source:
                observed.createOrReplaceTempView("etl_source")
            self.spark.sql(stmt)
            # Pure DDL (the reference's job-0 `tableCreate` shape,
            # application.properties:12-15) never runs the extract, so the
            # observation would block forever — only read it when the write
            # actually consumed etl_source.
            rows = int(obs.get["rows"]) if references_source else 0
            wrote = first_word
        else:  # pragma: no cover - config layer prevents this
            raise TypeError(f"unsupported write spec: {type(job.write)}")

        secs = time.monotonic() - start
        # Reference logs "All Send / All Rec" + elapsed (EtlMain.kt:58-61).
        log.info("job %s: rows=%d elapsed=%.2fs wrote=%s", job.name, rows, secs, wrote)
        return JobResult(job.name, rows, secs, wrote)

    def run(self, jobs: list[EtlJob]) -> list[JobResult]:
        return [self.run_job(j) for j in jobs]
