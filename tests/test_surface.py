"""Guard against package surface that only tests reach.

Every top-level def or class in `quarkus_etl_spark/` that is not a
`@register`ed query must be referenced by code outside its own body: in
the package, `tools/`, `perfbench/`, `bench.py` or `__spark_entry__.py`.
`tests/` does not count, so a function kept alive only by its own tests
fails here. A reference is an AST `Name` or `Attribute` node carrying the
def's name. Docstrings, other strings and the names in an `import` (so a
re-export) do not count.

The same rule holds one level down: every defaulted parameter is set by
some call outside `tests/`, and every method of a base-less class is
referenced there. A behaviour is either chosen by a caller or fixed."""

from __future__ import annotations

import ast
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


def _referenced_names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Names that code in `tree` reads or calls, outside the subtree `skip`."""
    names: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        stack.extend(ast.iter_child_nodes(node))
    return names


def test_every_package_def_is_referenced_outside_tests():
    trees = {f: ast.parse(f.read_text()) for p in SCOPE for f in _py_files(p)}
    names_in = {f: _referenced_names(t) for f, t in trees.items()}
    unreferenced = []
    for f in _py_files(PKG):
        for node in trees[f].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _is_registered_query(node):
                continue
            if node.name in _referenced_names(trees[f], skip=node) or any(
                node.name in names for g, names in names_in.items() if g != f
            ):
                continue
            unreferenced.append(f"{f.relative_to(ROOT)}::{node.name}")
    assert not unreferenced, f"defs reached only from tests/: {unreferenced}"


def _env_reads(tree: ast.AST) -> set[str]:
    """Keys read by `os.environ.get(K)`, `os.environ[K]` and `os.getenv(K)`;
    a key that is not a string literal reads as `<dynamic>`."""

    def key(node: ast.AST) -> str:
        return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else "<dynamic>"

    def is_environ(node: ast.AST) -> bool:
        return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load) and is_environ(node.value):
            keys.add(key(node.slice))
        elif isinstance(node, ast.Call) and node.args and isinstance(node.func, (ast.Attribute, ast.Name)):
            fn = node.func
            if (isinstance(fn, ast.Attribute) and fn.attr == "get" and is_environ(fn.value)) or (
                getattr(fn, "attr", getattr(fn, "id", None)) == "getenv"
            ):
                keys.add(key(node.args[0]))
    return keys


def test_package_reads_only_deployment_env_vars():
    """The package's behaviour is not switched by env vars: the only ones
    it reads size the local session (cores and driver memory)."""
    read = set().union(*(_env_reads(ast.parse(f.read_text())) for f in _py_files(PKG)))
    assert read == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def _package_defs(tree: ast.Module):
    """Module-level functions and the methods of module-level classes, as
    (qualified name, callee name, node, leading bound params, class).
    Nested defs are skipped. `__init__` is called by its class name."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node.name, node, 0, None
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                static = any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                callee = node.name if m.name == "__init__" else m.name
                yield f"{node.name}.{m.name}", callee, m, 0 if static else 1, node


def _calls_by_callee(trees) -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", getattr(node.func, "attr", None))
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _defaulted_params(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, position) of each parameter with a default; keyword-only
    parameters have no position."""
    pos = fn.args.posonlyargs + fn.args.args
    first = len(pos) - len(fn.args.defaults)
    out = [(a.arg, i) for i, a in enumerate(pos) if i >= first]
    out += [(a.arg, None) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None]
    return out


def test_every_defaulted_parameter_is_set_outside_tests():
    """A defaulted parameter that no call outside `tests/` sets is a
    behaviour only tests select (or nobody does): fix it in the body.
    Calls match defs by callee name (`__init__` by class name); a call
    inside the def's own body does not count, and a def that some call
    reaches with `*args`/`**kwargs` is skipped."""
    trees = [ast.parse(f.read_text()) for p in SCOPE for f in _py_files(p)]
    calls = _calls_by_callee(trees)
    unset = []
    for f in _py_files(PKG):
        for qual, callee, fn, bound, _ in _package_defs(ast.parse(f.read_text())):
            own = {id(n) for n in ast.walk(fn)}
            outside = [c for c in calls.get(callee, []) if id(c) not in own]
            if any(
                any(isinstance(a, ast.Starred) for a in c.args) or any(k.arg is None for k in c.keywords)
                for c in outside
            ):
                continue
            for name, pos in _defaulted_params(fn):
                if not any(
                    any(k.arg == name for k in c.keywords)
                    or (pos is not None and len(c.args) > pos - bound)
                    for c in outside
                ):
                    unset.append(f"{f.relative_to(ROOT)}::{qual}({name})")
    assert not unset, f"defaulted parameters set only by tests/ or by nobody: {unset}"


def test_every_method_is_referenced_outside_tests():
    """Each method of a base-less class must be reached by code outside
    `tests/`. Subclasses (Spark's `DataSource` and reader bases) are
    exempt: Spark calls the hooks they override. Dunder methods are
    called by the language."""
    trees = {f: ast.parse(f.read_text()) for p in SCOPE for f in _py_files(p)}
    unreferenced = []
    for f in _py_files(PKG):
        for qual, _, fn, _, cls in _package_defs(trees[f]):
            if cls is None or cls.bases or fn.name.startswith("__"):
                continue
            if not any(fn.name in _referenced_names(t, skip=fn) for t in trees.values()):
                unreferenced.append(f"{f.relative_to(ROOT)}::{qual}")
    assert not unreferenced, f"methods reached only from tests/: {unreferenced}"
