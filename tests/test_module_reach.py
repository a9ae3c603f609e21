"""Every package module is reached by what runs, not only by tests.

The roots are the query catalog (``event_streaming_spark.plans``), the
bench CLI, the repository benchmark (``perfbench/``) and the tools.  A
package module that only tests import is a second implementation of
something that runs, or code nothing runs; either way it belongs in a
test or nowhere.  The walk reads imports with ``ast`` (function-local
imports included), so it needs no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "event_streaming_spark"

#: package modules no root reaches, each with the reason it stays
UNREACHED = {
    f"{PKG}.operators.similarity_mllib": (
        "Spark MLlib's MinHashLSH, kept as the recall reference that tests "
        "hold the catalog's minhash_lsh_near_dup_pairs against"
    ),
}


def _source(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


def _imported(path: Path) -> set[str]:
    """Dotted names ``path`` imports, with every parent package (importing
    ``a.b.c`` runs ``a`` and ``a.b`` too) and, for ``from m import x``,
    the candidate submodule ``m.x``."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names |= {alias.name for alias in node.names}
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path}: relative import"
            names.add(node.module)
            names |= {f"{node.module}.{alias.name}" for alias in node.names}
    parents = {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 1)}
    return names | parents


def _reached() -> set[str]:
    roots = [ROOT / "bench.py", *(ROOT / "perfbench").glob("*.py"), *(ROOT / "tools").glob("*.py")]
    todo = {n for path in roots for n in _imported(path)} | {f"{PKG}.plans"}
    seen: set[str] = set()
    while todo:
        module = todo.pop()
        if module in seen or not module.startswith(PKG):
            continue
        path = _source(module)
        if path is None:  # a name imported from a module, not a module
            continue
        seen.add(module)
        todo |= _imported(path)
    return seen


def _package_modules() -> set[str]:
    out = set()
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        out.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return out


def test_every_package_module_is_reached_by_what_runs():
    unreached = _package_modules() - _reached()
    assert unreached == set(UNREACHED), sorted(unreached ^ set(UNREACHED))
