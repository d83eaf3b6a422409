"""Plan inspection & tuning helpers (SURVEY.md §4): plan text capture, and
partitioning guards for compute-heavy operators."""

from .explain import plan_string  # noqa: F401
from .tuning import ensure_parallelism  # noqa: F401
