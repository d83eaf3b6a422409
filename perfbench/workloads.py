"""The benchmark workloads.

Each workload is a fixed list of operations that one client runs in a
closed loop: the next operation starts only after the previous one has
returned, as an ETL caller waits for each job. A pass runs every
operation once, in an order shuffled by the seed. The classes here know
how to set a workload up, run one operation and check its output (the
rows the operation delivered, outside its timing); the timing loop is in
run.py.

Why each workload exists is in WORKLOADS.md.
"""

from __future__ import annotations

import json
import string
import time
from pathlib import Path

from fingerprint import digest, duckdb_result, spark_result

HERE = Path(__file__).resolve().parent

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

# Operation lists, sized so that one run (set-up, a cold pass, a warm-up
# pass, five timed passes and the output checks) fits the benchmark's time
# budget on 4 cores; WORKLOADS.md has the arithmetic.
LLM_OPS = (
    "q_dedup_canonical",
    "q_sim_ann_lsh",
    "q_graph_triangles",
    "q_emb_centroid",
    "q_text_stats",
)
STREAM_OPS = ("q_stream_live_dedup",)

# Rows of the Derby table the etl_stream jobs read.
ETL_ROWS = 20_000

# Query-name prefix -> operator family of the llm_curation per-layer
# build time (operators.<family>.build_s).
FAMILIES = (
    ("q_dedup", "dedup"),
    ("q_sim", "sim"),
    ("q_graph", "graph"),
    ("q_emb", "emb"),
    ("q_text", "text"),
)

# The addresses generator of operators/generator.py, written again in
# DuckDB SQL: every field comes from md5('<seed>:<id>') nibbles, so the
# ETL sinks are checked against an engine that shares no code with the
# program.
_POOLS = {
    "street": "['Main St', 'Oak Ave', 'Park Rd', 'Cedar Ln', 'Elm St']",
    "city": "['Springfield', 'Rivertown', 'Lakeside', 'Hillview', 'Maplewood']",
    "state": "['CA', 'NY', 'TX', 'FL', 'IL']",
    "country": "['USA', 'Canada', 'UK', 'Australia', 'Germany']",
}


def addresses_sql(n: int, seed: int) -> str:
    def nib(pos: int) -> str:
        return f"CAST('0x' || substr(h, {pos}, 4) AS BIGINT)"

    return f"""
    SELECT id,
           CAST({nib(1)} % 9999 + 1 AS VARCHAR) || ' ' ||
               ({_POOLS["street"]})[{nib(5)} % 5 + 1] AS street_address,
           ({_POOLS["city"]})[{nib(9)} % 5 + 1] AS city,
           ({_POOLS["state"]})[{nib(13)} % 5 + 1] AS state,
           CAST({nib(17)} % 90000 + 10000 AS VARCHAR) AS postal_code,
           ({_POOLS["country"]})[{nib(21)} % 5 + 1] AS country
    FROM (SELECT id, md5('{seed}:' || CAST(id AS VARCHAR)) AS h
          FROM (SELECT unnest(generate_series(1, {n})) AS id))
    """


def family_of(name: str) -> str | None:
    for prefix, family in FAMILIES:
        if name.startswith(prefix):
            return family
    return None


class Probe:
    """Per-operation tracing hooks; a no-op unless the pass is traced."""

    def __init__(self, tracer, counters, cores: int, stream_runs: list[str]) -> None:
        self.tracer = tracer
        self.counters = counters
        self.cores = cores
        self.stream_runs = stream_runs  # run ids of streams started so far

    @property
    def on(self) -> bool:
        return self.tracer.enabled

    def group(self, spark, name: str) -> None:
        if self.on:
            spark.sparkContext.setJobGroup(name, name)

    def collect(self, group: str) -> float:
        return self.counters.collect(group, self.tracer) if self.on else 0.0


class QueryWorkload:
    """Registered queries: build (the callable), plan (executedPlan) and
    execute (collect the result to the client), each timed from outside.
    The collected rows are the operation's output; check() fingerprints
    them."""

    def __init__(self, ops: tuple[str, ...], sf_dir: str) -> None:
        from quarkus_etl_spark.queries import all_query_callables

        self.ops = ops
        self.sf_dir = sf_dir
        self.expected = json.loads((HERE / "expected.json").read_text())
        # Resolved once: the registry lookup reads files and sorts the
        # whole inventory, which is not the work an operation times.
        registry = all_query_callables()
        self.callables = {op: registry[op] for op in ops}

    def prepare(self, spark) -> None:
        from quarkus_etl_spark.catalog import TABLES, load_table

        for table in TABLES:
            load_table(spark, self.sf_dir, table)

    def begin_pass(self, spark) -> None:
        pass

    def run_op(self, spark, op: str, tag: str, probe: Probe):
        tr = probe.tracer
        fn = self.callables[op]
        family = family_of(op)
        n_streams = len(probe.stream_runs)
        probe.group(spark, tag + "-build")
        with tr.span("queries.build", op=op):
            t0 = time.monotonic()
            df = fn(spark, self.sf_dir)
            build_s = time.monotonic() - t0
        if family is not None:
            tr.add(f"operators.{family}.build_s", build_s)
        with tr.span("queries.plan", op=op):
            df._jdf.queryExecution().executedPlan()
        probe.group(spark, tag + "-exec")
        with tr.span("queries.exec", op=op):
            t0 = time.monotonic()
            rows = df.collect()
            exec_s = time.monotonic() - t0
        if probe.on:
            before = tr.counters["spark.jobs"]
            probe.collect(tag + "-build")
            tr.add("queries.build_jobs", tr.counters["spark.jobs"] - before)
            for run_id in probe.stream_runs[n_streams:]:
                probe.collect(run_id)
            run_s = probe.collect(tag + "-exec")
            tr.add("spark.idle_core_s", probe.cores * exec_s - run_s)
        return df.columns, rows

    def check(self, spark, op: str, handle) -> tuple[int, str | None]:
        """(rows delivered, the mismatch with expected.json or None)."""
        columns, rows = handle
        want = self.expected[op]
        got = digest(columns, [tuple(r) for r in rows])
        if len(rows) != want["rows"]:
            return len(rows), f"{op}: {len(rows)} rows, expected {want['rows']}"
        if got != want["digest"]:
            return len(rows), f"{op}: content digest {got[:12]} != {want['digest'][:12]}"
        return len(rows), None


class EtlWorkload:
    """The reference's own traffic: config-driven jobs from an embedded
    Derby source into JDBC and parquet sinks, run by JobRunner.run."""

    def __init__(self, sf_dir: str, work: Path, rows: int, partitions: int,
                 seed: int) -> None:
        self.sf_dir = sf_dir
        self.n = rows
        self.partitions = partitions
        self.seed = seed
        # In memory, so Derby's log syncs to disk on every commit are not
        # part of the jobs' measured time.
        self.url = "jdbc:derby:memory:perfbench;create=true"
        subst = {"DERBY_URL": self.url, "WORK": str(work),
                 "JDBC_PARTITIONS": str(partitions)}
        for src in ("sinks.json", "reference.properties"):
            text = (HERE / "etl" / src).read_text()
            (work / src).write_text(string.Template(text).substitute(subst))
        from quarkus_etl_spark.config import jobs_from_json, jobs_from_properties

        self.jobs = {
            j.name: j
            for j in jobs_from_json(work / "sinks.json")
            + jobs_from_properties(work / "reference.properties")
        }
        self.ops = tuple(self.jobs)
        self._want: dict[str, tuple[int, str]] = {}

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        from quarkus_etl_spark.catalog import register_views
        from quarkus_etl_spark.operators.generator import gen_addresses
        from quarkus_etl_spark.sources.writers import write_jdbc

        # Spark's Derby dialect maps StringType to CLOB; a filter pushed to
        # a CLOB column fails in Derby (ERROR 42818), so the seed table
        # and every string sink are created with VARCHAR columns.
        varchar = ("STREET_ADDRESS VARCHAR(100), CITY VARCHAR(50), "
                   "STATE VARCHAR(50), POSTAL_CODE VARCHAR(20), "
                   "COUNTRY VARCHAR(50)")
        src = gen_addresses(spark, self.n, self.seed)
        src = src.select([F.col(c).alias(c.upper()) for c in src.columns])
        write_jdbc(src, self.url, "ADDRESSES", mode="overwrite",
                   num_partitions=self.partitions, driver=DERBY_DRIVER,
                   createTableColumnTypes=varchar)
        write_jdbc(src.limit(0), self.url, "ADDR_USA", mode="overwrite",
                   driver=DERBY_DRIVER, createTableColumnTypes=varchar)
        spark.sql(
            "CREATE OR REPLACE TEMPORARY VIEW addr_usa USING jdbc OPTIONS ("
            f"url '{self.url}', driver '{DERBY_DRIVER}', dbtable 'ADDR_USA', "
            f"truncate 'true', numPartitions '{self.partitions}')"
        )
        register_views(spark, self.sf_dir, ("orders",))

    def begin_pass(self, spark) -> None:
        from quarkus_etl_spark.sources.readers import read_jdbc

        read_jdbc(
            spark, self.url, table="ADDRESSES", driver=DERBY_DRIVER,
            partition_column="ID", lower_bound=1, upper_bound=self.n,
            num_partitions=self.partitions,
        ).createOrReplaceTempView("addr_src")

    def run_op(self, spark, op: str, tag: str, probe: Probe):
        from quarkus_etl_spark.config import WriteTarget
        from quarkus_etl_spark.jobs import JobRunner

        job = self.jobs[op]
        probe.group(spark, tag)
        t0 = time.monotonic()
        (result,) = JobRunner(spark).run([job])
        wall_s = time.monotonic() - t0
        if probe.on:
            run_s = probe.collect(tag)
            probe.tracer.add("spark.idle_core_s", probe.cores * wall_s - run_s)
            probe.tracer.add("jobs.rows", result.rows)
            if isinstance(job.write, WriteTarget):
                probe.tracer.add("sources.rows_written", result.rows)
                if job.write.path:
                    files = [p for p in Path(job.write.path).rglob("part-*")]
                    probe.tracer.add("sources.files_written", len(files))
                    probe.tracer.add("sources.bytes_written",
                                     sum(p.stat().st_size for p in files))
        return None

    def _expected_sql(self, op: str) -> str:
        addresses = f"({addresses_sql(self.n, self.seed)})"
        return {
            "copy_ca": f"SELECT * FROM {addresses} WHERE state = 'CA'",
            "load_orders": "SELECT * FROM read_parquet("
                           f"'{self.sf_dir}/orders.parquet')",
            "agg_city": "SELECT state, city, count(*) AS n, "
                        "min(postal_code) AS min_postal, max(id) AS max_id "
                        f"FROM {addresses} GROUP BY state, city",
            "insert_usa": f"SELECT * FROM {addresses} WHERE country = 'USA'",
        }[op]

    def _sink(self, spark, op: str):
        job = self.jobs[op]
        if op == "insert_usa":
            table = "ADDR_USA"
        elif job.write.format == "jdbc":
            table = job.write.options["dbtable"]
        else:
            return spark.read.parquet(job.write.path)
        return spark.read.format("jdbc").options(
            url=self.url, driver=DERBY_DRIVER, dbtable=table).load()

    def _expected(self, op: str) -> tuple[int, str]:
        if op not in self._want:
            import duckdb

            with duckdb.connect() as con:
                self._want[op] = duckdb_result(con, self._expected_sql(op))
        return self._want[op]

    def check(self, spark, op: str, handle) -> tuple[int, str | None]:
        """Read the job's sink back: (rows it holds, the mismatch with
        DuckDB or None). The program's own JobResult.rows is not used: it
        reads 0 for a JDBC sink with numPartitions set (WORKLOADS.md)."""
        rows, want = self._expected(op)
        got_rows, got = spark_result(self._sink(spark, op))
        if got_rows != rows:
            return got_rows, f"{op}: sink holds {got_rows} rows, expected {rows}"
        if got != want:
            return got_rows, f"{op}: sink digest {got[:12]} != {want[:12]}"
        return got_rows, None


class PipelineWorkload:
    """Several workloads' operations run as one list: each operation is
    dispatched to the part that owns it."""

    def __init__(self, parts) -> None:
        self.parts = parts
        self.ops = tuple(op for part in parts for op in part.ops)
        self._owner = {op: part for part in parts for op in part.ops}

    def prepare(self, spark) -> None:
        for part in self.parts:
            part.prepare(spark)

    def begin_pass(self, spark) -> None:
        for part in self.parts:
            part.begin_pass(spark)

    def run_op(self, spark, op: str, tag: str, probe: Probe):
        return self._owner[op].run_op(spark, op, tag, probe)

    def check(self, spark, op: str, handle) -> tuple[int, str | None]:
        return self._owner[op].check(spark, op, handle)


def make_workload(name: str, sf_dir: str, work: Path, cfg: dict, seed: int):
    if name == "llm_curation":
        return QueryWorkload(LLM_OPS, sf_dir)
    etl = EtlWorkload(sf_dir, work, ETL_ROWS, cfg["jdbc_partitions"], seed)
    return PipelineWorkload([etl, QueryWorkload(STREAM_OPS, sf_dir)])


WORKLOADS = ("etl_stream", "llm_curation")
