"""Plan text capture (SURVEY.md §4.2: "don't defeat Catalyst").

`plan_string` returns a frame's formatted `explain` output as a string, for the
plan dumps of the measurement tools and the plan assertions in
tests/test_plans.py.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()
