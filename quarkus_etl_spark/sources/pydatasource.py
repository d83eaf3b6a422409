"""Custom Python Data Source (Spark 4 `pyspark.sql.datasource` API): the
reference's synthetic address generator (DataImporter.kt:48-82) as a
first-class pluggable SOURCE — `spark.read.format("addresses")` — instead
of a DataFrame-building helper.

Why this exists alongside operators/generator.py: the generator composes
column expressions onto spark.range; this one implements the actual
DataSource V2 contract from Python (schema(), partitions(), read()) — the
extension point a team uses to expose any bespoke system (internal API,
proprietary file format, queue) to Spark without JVM code. Planning-time
partitioning makes the read parallel; each partition re-derives its rows
deterministically from row ids, so the source is restart-safe and
oracle-checkable.

Determinism contract: every field derives from md5(id) nibbles (NOT
Spark's hash(), which only Spark can compute) — so plain SQL on another
engine can reproduce the output bit-for-bit, and the driver's DuckDB gate
can grade a custom-source scan like any other query.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..operators.generator import CITIES, COUNTRIES, STATES, STREETS

SCHEMA = (
    "id bigint, street_address string, city string, state string, "
    "postal_code string, country string"
)


def _md5_fields(row_id: int) -> tuple[str, str, str, str, str]:
    """All field picks from md5(str(id)) hex nibbles — mirrored verbatim
    by the DuckDB oracle in queries/lifecycle_q.py::q_gen_pysource."""
    import hashlib

    h = hashlib.md5(str(row_id).encode()).hexdigest()
    street_no = int(h[0:4], 16) % 9999 + 1
    street = STREETS[int(h[4:8], 16) % len(STREETS)]
    city = CITIES[int(h[8:12], 16) % len(CITIES)]
    state = STATES[int(h[12:16], 16) % len(STATES)]
    postal = str(int(h[16:20], 16) % 90000 + 10000)
    country = COUNTRIES[int(h[20:24], 16) % len(COUNTRIES)]
    return (f"{street_no} {street}", city, state, postal, country)


class _AddressPartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class AddressReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("rows", 10_000))
        self.splits = int(options.get("partitions", 8))

    def partitions(self):
        per = max(1, -(-self.n // self.splits))
        return [
            _AddressPartition(lo, min(lo + per, self.n + 1))
            for lo in range(1, self.n + 1, per)
        ]

    def read(self, partition: _AddressPartition):
        for row_id in range(partition.start, partition.end):
            street_address, city, state, postal, country = _md5_fields(row_id)
            yield (row_id, street_address, city, state, postal, country)


class AddressDataSource(DataSource):
    """`spark.dataSource.register(AddressDataSource)` then
    `spark.read.format("addresses").option("rows", N).load()`."""

    @classmethod
    def name(cls) -> str:
        return "addresses"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> AddressReader:
        return AddressReader(self.options)


def register(spark) -> None:
    # The DataSource class is pickled BY REFERENCE to the create-instance
    # worker; when the harness imports this package by path from a foreign
    # cwd, workers need the addPyFile zip to import it (catalog.py).
    from ..catalog import ensure_worker_imports

    ensure_worker_imports(spark)
    spark.dataSource.register(AddressDataSource)
