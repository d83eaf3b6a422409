"""Job configuration model (SURVEY.md Tier A12; reference LoaderBean.kt:5-16).

The reference binds `loader.jobs[N].{name,extract,write}` from
application.properties (application.properties:12-21) into an ordered list of
jobs, where `extract` is arbitrary SQL for the source engine and `write` is
either DDL or a parameterized INSERT for the target engine.

Here a job is `{name, extract, write}` where:
- `extract` is Spark SQL evaluated over the session catalog (temp views,
  tables, or file-backed sources registered by the caller);
- `write` is either a SQL statement (DDL / INSERT ... SELECT — the A8
  "DDL-as-job passthrough" path; it may reference the extract result as the
  view `etl_source`) or a `WriteTarget` for Spark's native sinks.

Config can come from Python dicts, a JSON file, or a flat
`.properties`-style file using the reference's own key scheme.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path


@dataclass(frozen=True)
class WriteTarget:
    """Declarative sink: format + path/table + mode + options.

    `batchsize` defaults to the reference's micro-batch of 2000
    (EtlMain.kt:74) and is forwarded to JDBC sinks."""

    format: str = "parquet"  # parquet | csv | json | orc | jdbc | table
    path: str | None = None
    table: str | None = None
    mode: str = "append"
    options: dict[str, str] = field(default_factory=dict)
    partition_by: tuple[str, ...] = ()


@dataclass(frozen=True)
class EtlJob:
    name: str
    extract: str
    write: str | WriteTarget | None = None


_JOB_KEYS = {"name", "extract", "write"}


def jobs_from_dicts(raw: list[dict]) -> list[EtlJob]:
    """Jobs run strictly in list order (EtlMain.kt:28-37). A key other
    than name/extract/write fails here, so a config written for some other
    scheduler (say, with `depends_on`) cannot silently run in file order."""
    out: list[EtlJob] = []
    for d in raw:
        unknown = sorted(set(d) - _JOB_KEYS)
        if unknown:
            raise ValueError(
                f"job {d.get('name')!r}: unknown keys {unknown}; "
                f"a job has only {sorted(_JOB_KEYS)}"
            )
        write = d.get("write")
        if isinstance(write, dict):
            write = WriteTarget(
                format=write.get("format", "parquet"),
                path=write.get("path"),
                table=write.get("table"),
                mode=write.get("mode", "append"),
                options=dict(write.get("options", {})),
                partition_by=tuple(write.get("partition_by", ())),
            )
        out.append(EtlJob(name=d["name"], extract=d["extract"], write=write))
    return out


def jobs_from_json(path: str | Path) -> list[EtlJob]:
    return jobs_from_dicts(json.loads(Path(path).read_text())["jobs"])


_PROP_RE = re.compile(r"^loader\.jobs\[(\d+)\]\.(name|extract|write)\s*=\s*(.*)$")


def jobs_from_properties(path: str | Path) -> list[EtlJob]:
    """Parse the reference's own config syntax
    (`loader.jobs[0].name=...`, application.properties:12-21)."""
    slots: dict[int, dict[str, str]] = {}
    for line in Path(path).read_text().splitlines():
        line = line.strip()
        if not line or line.startswith(("#", "!")):
            continue
        m = _PROP_RE.match(line)
        if m:
            idx, key, val = int(m.group(1)), m.group(2), m.group(3)
            slots.setdefault(idx, {})[key] = val
    return jobs_from_dicts([slots[i] for i in sorted(slots)])
