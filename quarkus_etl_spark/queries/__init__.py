"""Query inventory (SURVEY.md §2). Modules register into base.QUERIES /
base.ORACLES at import; `_load_all` imports every module once."""

from __future__ import annotations

import importlib

from .base import ORACLES, QUERIES, all_oracles, all_query_callables  # noqa: F401

_MODULES = (
    "relational",
    "tpch_q",
    "functions_q",
    "windows_q",
    "subqueries_q",
    "udf_q",
    "streaming_q",
    "lifecycle_q",
    "northstar_q",
    "timeseries_q",
    "curation_q",
    "analytics_q",
)

_loaded = False


def _load_all() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        importlib.import_module(f".{mod}", __name__)
    _loaded = True
