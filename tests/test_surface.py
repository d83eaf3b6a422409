"""Guard against package surface that only tests reach.

Every top-level def or class in `quarkus_etl_spark/` that is not a
`@register`ed query must be named somewhere outside its own definition:
in the package, `tools/`, `perfbench/`, `bench.py` or `__spark_entry__.py`.
`tests/` does not count, so a function kept alive only by its own tests
fails here. The match is by whole word, so a mention in another module's
docstring or a re-export also counts."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "quarkus_etl_spark"
SCOPE = (PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py")


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _is_registered_query(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def test_every_package_def_is_referenced_outside_tests():
    texts = {f: f.read_text() for p in SCOPE for f in _py_files(p)}
    unreferenced = []
    for f in _py_files(PKG):
        lines = texts[f].splitlines(keepends=True)
        for node in ast.parse(texts[f]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _is_registered_query(node):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            first = min([node.lineno, *(d.lineno for d in node.decorator_list)]) - 1
            outside_own_def = "".join(lines[:first] + lines[node.end_lineno:])
            if word.search(outside_own_def) or any(
                word.search(text) for g, text in texts.items() if g != f
            ):
                continue
            unreferenced.append(f"{f.relative_to(ROOT)}::{node.name}")
    assert not unreferenced, f"defs reached only from tests/: {unreferenced}"
