"""Every library module must be reachable from a real entry point.

Walks ``import`` / ``from`` statements (function-local ones included) with
``ast``, starting at the driver contract, the CLI tools and the benchmark,
and asserts that every ``search_spark/**/*.py`` module is reached. A module
that only tests import is either wired into an entry point or deleted, so
each capability keeps one implementation. No Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "search_spark"
ENTRY_POINTS = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "tools" / "cli.py",
    ROOT / "tools" / "run_pipeline.py",
    ROOT / "tools" / "check_oracles.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def _resolve(name: str, base: Path) -> Path | None:
    """The repo file a dotted module name maps to under ``base``."""
    stem = base.joinpath(*name.split("."))
    for cand in (stem.with_suffix(".py"), stem / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _imported_modules(path: Path) -> set[str]:
    """Dotted names a file may import: each ``import a.b``, and each
    ``from a import b`` as both ``a`` and ``a.b`` (b may be a module).
    The repo uses absolute imports only."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    # importing a.b.c runs a/__init__.py and a/b/__init__.py too
    return {".".join(n.split(".")[:i + 1]) for n in names
            for i in range(n.count(".") + 1)}


def reachable_files() -> set[Path]:
    seen: set[Path] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        # scripts outside the package import their siblings by bare name
        bases = [ROOT] if PACKAGE in path.parents else [ROOT, path.parent]
        for name in _imported_modules(path):
            for base in bases:
                target = _resolve(name, base)
                if target is not None:
                    todo.append(target)
                    break
    return seen


def test_every_library_module_is_reachable_from_an_entry_point():
    reached = reachable_files()
    unreached = sorted(
        str(p.relative_to(ROOT))
        for p in PACKAGE.rglob("*.py")
        if p not in reached
    )
    assert not unreached, (
        f"{len(unreached)} search_spark modules are reached by no entry "
        f"point (wire them in or delete them): {unreached}"
    )
