"""Every package module is reached from an entry point, not only from tests.

The entry points are the driver contract (``__spark_entry__.py``), the
benchmark (``perfbench/``), the operator tools (``tools/``) and the historical
bench harnesses. A module that only tests import is dead code with its own
upkeep; this walk names it so it is deleted rather than kept alive by its test.

Source only: the walk parses import statements with ``ast`` and never imports
the package, so it needs no JVM.

A package's ``__init__.py`` runs whenever one of its submodules is imported,
but a side-effect import there is not a use: the walk follows an
``__init__.py`` only when the package itself is imported by name, and checks
only real modules (not ``__init__.py``) for reach.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "web_crawling_prj_spark"


def _entry_files() -> list[Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py", REPO / "bench_extra.py"]
    files += [p for p in sorted((REPO / "perfbench").glob("*.py")) if not p.name.startswith("test_")]
    files += sorted((REPO / "tools").glob("*.py"))
    return files


def _module_file(name: str) -> Path | None:
    """The source file of dotted module ``name`` in the package, if any."""
    base = REPO.joinpath(*name.split("."))
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    return None


def _imported_modules(path: Path) -> set[str]:
    """Package modules that ``path``'s import statements name."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            # `from pkg import name` reaches the submodule pkg.name when there
            # is one, otherwise a name defined in pkg itself
            names = [
                f"{node.module}.{a.name}" if _module_file(f"{node.module}.{a.name}") else node.module
                for a in node.names
            ]
        else:
            continue
        out.update(n for n in names if n.split(".")[0] == PKG and _module_file(n))
    return out


def _reached() -> set[str]:
    todo = [m for p in _entry_files() for m in _imported_modules(p)]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imported_modules(_module_file(mod)))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = {
        ".".join(p.relative_to(REPO).with_suffix("").parts)
        for p in (REPO / PKG).rglob("*.py")
        if p.name != "__init__.py"
    }
    assert modules, "package not found"
    unreached = sorted(modules - _reached())
    assert not unreached, f"package modules no entry point imports: {unreached}"
