"""Table catalog: fixture loading, view registration, identifier rules.

Mirrors the reference's schema behaviors (SURVEY.md §1, Tier A4-A7):

- A4 dynamic schema inference — Spark readers infer from parquet footers /
  JDBC metadata, same role as ClassMapMapper.kt:26-33.
- A6 identifier normalization — the reference uppercases every output column
  (alias wins over base name): ClassMapMapper.kt:19-21. `normalize_identifiers`
  is that rule as an engine pass.
- A7 duplicate-column guard — hard error on a repeated output name:
  ClassMapMapper.kt:22-24. Spark tolerates duplicates until resolution, so we
  fail fast explicitly.
- A5 type normalization — the reference rewrites Oracle TIMESTAMP to the
  portable java.sql.Timestamp (ClassMapMapper.kt:27-30,36-39). Our analog:
  the `events` fixture carries parquet TIMESTAMP(NANOS), which Spark cannot
  represent; we read nanos-as-long and convert to a microsecond
  TIMESTAMP_NTZ so every engine (Spark, DuckDB oracle) sees the same value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class DuplicateColumnError(RuntimeError):
    """Mirror of the reference's hard error (ClassMapMapper.kt:22-24)."""


def normalize_identifiers(df: DataFrame) -> DataFrame:
    """Uppercase every output column (alias ≻ name is implicit: Spark's
    .alias already replaced the base name). Mirrors ClassMapMapper.kt:19-24,
    including the duplicate check applied *after* uppercasing."""
    upper = [c.upper() for c in df.columns]
    seen: set[str] = set()
    for name in upper:
        if name in seen:
            raise DuplicateColumnError(f"column {name} appeared twice in this resultset!")
        seen.add(name)
    return df.toDF(*upper)


_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _session_key(spark: SparkSession) -> str:
    """Stable PER-SESSION key. applicationId alone is wrong: it is shared
    by spark.newSession() siblings, so a plan cached under one session
    could be served to another — DataFrames are session-bound, and the
    sibling may carry different runtime confs (found via a session-
    timezone test poisoning the shared events cache). `id(spark)` alone is
    also wrong (the allocator recycles ids after GC). A uuid stamped onto
    the session object dies with it, so recycled ids can never alias."""
    key = getattr(spark, "_qes_session_key", None)
    if key is None:
        import uuid

        try:
            app = spark.sparkContext.applicationId
        except Exception:  # pragma: no cover - context being torn down
            app = "app"
        key = f"{app}:{uuid.uuid4().hex[:12]}"
        try:
            spark._qes_session_key = key
        except Exception:  # pragma: no cover - exotic session proxies
            key = f"{app}:{id(spark)}"
    return key


_WORKER_IMPORTS_READY: set[str] = set()
_SESSION_CONFS_READY: set[str] = set()


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the engine-contract runtime confs once per session, at FIRST
    fixture load — not as a side effect of loading one particular table.

    UTC session timezone is part of this engine's semantics (NTZ<->instant
    casts, watermark comparisons, date_trunc on instants all assume it; the
    DuckDB oracle reads naive timestamps). Pinning it on the first
    load_table call — whatever the table — makes every query in a session
    see the same timezone instead of host-tz-before-events / UTC-after
    (order-dependent results on non-UTC hosts). get_spark() already sets
    both confs at construction; this covers the grading harness's vanilla
    session, where they are runtime-settable."""
    key = _session_key(spark)
    if key in _SESSION_CONFS_READY:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _SESSION_CONFS_READY.add(key)


def ensure_worker_imports(spark: SparkSession) -> None:
    """Spark's Python WORKERS inherit PYTHONPATH from the environment, not
    the driver's sys.path. When the grading harness imports
    __spark_entry__.py by path from a foreign cwd, module-level functions
    and classes pickled BY REFERENCE (the multimodal mapInPandas
    featurizers, the Python Data Source class — unlike query-local
    closures, which cloudpickle serializes by value) fail to unpickle on
    workers with ModuleNotFoundError. Ship the package source as an
    addPyFile zip once per session — Spark's standard dependency-
    distribution mechanism, a no-op for the pure-JVM query majority."""
    key = _session_key(spark)
    if key in _WORKER_IMPORTS_READY:
        return
    import os
    import zipfile
    from pathlib import Path

    pkg_root = Path(__file__).resolve().parent
    scratch = pkg_root.parent / ".scratch"
    scratch.mkdir(exist_ok=True)
    zpath = scratch / "quarkus_etl_spark_pyfiles.zip"
    sources = sorted(pkg_root.rglob("*.py"))
    names = [f"{pkg_root.name}/{p.relative_to(pkg_root)}" for p in sources]
    try:
        with zipfile.ZipFile(zpath) as zf:
            # A deleted module leaves no newer mtime behind, so the entry
            # set must match too, or workers keep importing the old module.
            stale = set(zf.namelist()) != set(names) or any(
                p.stat().st_mtime > zpath.stat().st_mtime for p in sources
            )
    except (FileNotFoundError, zipfile.BadZipFile):
        stale = True
    if stale:
        tmp = zpath.with_suffix(f".tmp{os.getpid()}")
        with zipfile.ZipFile(tmp, "w") as zf:
            for p, name in zip(sources, names):
                zf.write(p, name)
        os.replace(tmp, zpath)  # atomic: concurrent harness processes race
    spark.sparkContext.addPyFile(str(zpath))
    _WORKER_IMPORTS_READY.add(key)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. `events` needs the nanos→micros conversion
    (see module docstring); everything else is a plain parquet scan that
    keeps predicate pushdown / column pruning fully available.

    DataFrames are immutable lazy plans, so they are memoized per
    (session, sf_dir, table): repeated queries skip the parquet-footer
    schema read (a driver-side file-listing + footer parse per call that
    adds up across an 80-query suite)."""
    ensure_session_confs(spark)
    ensure_worker_imports(spark)
    key = (_session_key(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # Epoch nanos -> the UTC wall time as TIMESTAMP_NTZ, as pure
            # interval arithmetic on an NTZ base: no session-timezone
            # dependence at all (a timestamp_micros().cast('timestamp_ntz')
            # would shift by the session TZ offset), so the plan stays
            # correct even if a caller later changes the session timezone.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    else:
        df = spark.read.parquet(path)
    _TABLE_CACHE[key] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each fixture as a lowercase temp view (idempotent) so SQL-path
    queries (subqueries, CTEs, grouping sets) run over the same catalog the
    DuckDB oracle sees. Returns the DataFrames keyed by table name."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
