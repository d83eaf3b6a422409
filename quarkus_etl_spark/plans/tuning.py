"""Partitioning guards.

A small parquet file arrives as ONE input split, so a quadratic operator
(blocked self-join, MinHash explode) downstream of it would run on one core
no matter how many the cluster has. `ensure_parallelism` round-robins such
inputs up to the session's default parallelism BEFORE the expensive stage.

At real scale inputs have many splits and the guard is a no-op — it only
spends a (cheap, linear) shuffle when the input is under-partitioned
relative to the cluster.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

# Key carries the input-file TUPLE itself, not hash(files) (ADVICE r11):
# a 64-bit hash of distinct file sets can in principle collide and serve a
# stale routing scalar, and the tuples are small (fixture tables are a
# handful of part files). Bounded: routing keys are one entry per distinct
# (session, plan, files) triple — a long-lived session that keeps reading
# new file sets evicts the least recently used entry at the cap instead of
# growing forever. A hit moves its key to the back; every read and write of
# the dict holds the lock, so concurrent routers cannot interleave an
# eviction with an insert. The count() itself runs outside the lock.
_ROUTING_CACHE_MAX = 256
_ROUTING_COUNT_CACHE: dict[tuple, int] = {}
_ROUTING_CACHE_LOCK = threading.Lock()


def _routing_cache_get(key: tuple) -> int | None:
    with _ROUTING_CACHE_LOCK:
        n = _ROUTING_COUNT_CACHE.pop(key, None)
        if n is not None:
            _ROUTING_COUNT_CACHE[key] = n
        return n


def _routing_cache_put(key: tuple, n: int) -> None:
    with _ROUTING_CACHE_LOCK:
        _ROUTING_COUNT_CACHE.pop(key, None)
        if len(_ROUTING_COUNT_CACHE) >= _ROUTING_CACHE_MAX:
            _ROUTING_COUNT_CACHE.pop(next(iter(_ROUTING_COUNT_CACHE)))
        _ROUTING_COUNT_CACHE[key] = n


_route_logger = __import__("logging").getLogger("quarkus_etl_spark.routing")


def log_route(op: str, strategy: str, approximate: bool, detail: str = "") -> None:
    """Record a size-routing decision in run artifacts. The approximate
    branches (LSH candidates, ANN) keep per-pair values exact but can
    shrink the emitted SET (recall < 1), so a silent switch would be
    undiagnosable from results alone — WARN when approximate, DEBUG when
    exact."""
    msg = f"routing: {op} -> {strategy}{f' ({detail})' if detail else ''}"
    if approximate:
        _route_logger.warning(
            "%s — recall-bounded candidate generation; emitted pair SET may "
            "be smaller than the exhaustive plan (values on every emitted "
            "pair are exact)",
            msg,
        )
    else:
        _route_logger.debug(msg)


def routing_count(df: DataFrame) -> int:
    """Row count for size-based plan routing (exhaustive-vs-LSH thresholds,
    auto plane sizing), cached per (session, analyzed-plan semantic hash,
    input-file fingerprint).

    On a raw parquet scan count() is a metadata-only action; on a derived
    frame it executes the upstream plan — callers should route on the raw
    input where possible, and this cache at least makes repeated routing
    decisions over the same logical input (the common case: every dedup/
    graph query re-derives the same corpus frame) pay once per session.

    Key hygiene: the session component is catalog._session_key (NOT
    applicationId, which spark.newSession() siblings share), and the file
    fingerprint invalidates the cached count when the table is overwritten
    or appended under the same logical plan — overwrite/append always
    change the part-file set, so a stale count can't silently keep routing
    a grown corpus to the exhaustive plan. In-memory relations fingerprint
    to () and fall back to semantic-hash-only keying (plans there are
    session-local and immutable in practice)."""
    from ..catalog import _session_key

    try:
        try:
            files = tuple(sorted(df.inputFiles()))
        except Exception:  # streaming/in-memory plans
            files = ()
        key = (
            _session_key(df.sparkSession),
            int(df._jdf.queryExecution().analyzed().semanticHash()),
            files,
        )
    except Exception:  # pragma: no cover - Connect or API drift
        return df.count()
    n = _routing_cache_get(key)
    if n is None:
        n = df.count()
        _routing_cache_put(key, n)
    return n


def ensure_parallelism(df: DataFrame) -> DataFrame:
    target = df.sparkSession.sparkContext.defaultParallelism
    # Probe with inputFiles() — file listing over the analyzed plan only.
    # The previous probe (df.rdd.getNumPartitions()) runs the FULL
    # optimizer + physical-planning pipeline on the driver: measured 4.6 s
    # on the ngram feature plan, paid per operator build on every wide
    # expression tree, then paid again at execution. File count is a
    # conservative heuristic for split count (Spark may pack many small
    # files into fewer splits, in which case we skip a repartition that
    # could have helped — acceptable: that regime is already
    # volume-parallel), and a single file is exactly the case the guard
    # exists for.
    try:
        n_files = len(df.inputFiles())
    except Exception:  # pragma: no cover - e.g. streaming plan
        n_files = 0
    if n_files >= target:
        return df
    if n_files == 0:
        # No file source (in-memory relation): plans are small there, so
        # the RDD probe's planning cost is negligible.
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:  # pragma: no cover - plan not RDD-convertible
            pass
    return df.repartition(target)
