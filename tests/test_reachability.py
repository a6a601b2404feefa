"""Every package module, and every top-level function and class in it, is
reached from an entry point, not only from tests.

The entry points are the driver contract (``__spark_entry__.py``), the
benchmark (``perfbench/``), the operator tools (``tools/``) and the historical
bench harnesses. A module or a definition that only tests use is dead code
with its own upkeep; these walks name it so it is deleted rather than kept
alive by its test.

Source only: the walks parse the source with ``ast`` and never import the
package, so they need no JVM.

A package's ``__init__.py`` runs whenever one of its submodules is imported,
but a side-effect import there is not a use: the walk follows an
``__init__.py`` only when the package itself is imported by name, and checks
only real modules (not ``__init__.py``) for reach.
"""

from __future__ import annotations

import ast
import re
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


# Top-level definitions no entry point reaches, kept for now. The set is
# exact: a name reached again, or no longer defined, fails the test too, so
# it only shrinks as each family is deleted. The comments group the names by
# why each stays; the grouping does not change what is asserted.
KEPT = frozenset(
    {
        # Reference implementations: a test of reached code compares the
        # reached operator against these, or checks the predicate they share
        # with it (gate_frontier is gate_frontier_flagged's filter; the SCD2
        # batch path is what test_rebuild_matches_incremental replays against
        # the reached rebuild; the WARC readers read back the WARC writer's
        # output in test_warc.py).
        "operators.asof.asof_join_pandas",
        "operators.retry.host_circuit_state",
        "operators.robots.gate_frontier",
        "operators.scd2._table_supports_merge",
        "operators.scd2.new_reviews_query",
        "operators.scd2.scd2_apply_batch",
        "operators.scd2.scd2_apply_batch_table",
        "operators.scd2.scd2_merge_sql",
        "operators.scd2.with_scd2_metadata",
        "sources.warc.fetch_warc_record",
        "sources.warc.read_warc_dir",
        "sources.warc.read_warc_splits",
        "sources.warc.wat_round",
        "sources.warc.wet_round",
        # Test-input helpers: build inputs that tests of reached code feed in.
        "sources.pages_gen.robots_txt_df",
        # Unreached and pending deletion: only their own tests use them.
        "functions.hashing.variation_key",
        "functions.urls.url_depth",
        "operators.anchors.discover_links",
        "operators.anchors.is_path_relative",
        "operators.bpe.bpe_segment",
        "operators.graph.dedup_by_components",
        "operators.graph.priority_from_pagerank",
        "operators.politeness.batch_ids",
        "operators.similarity.embedding_near_dup_pairs",
        "operators.sketches.hll_estimate",
        "operators.sketches.hll_merge",
        "operators.textdedup.dedup_minhash",
        "sources.sitemaps.seeds_from_sitemap_entries",
        "sources.sitemaps.sitemap_index_entries",
    }
)

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _names(node: ast.AST) -> set[str]:
    """Identifiers ``node`` refers to: names, attributes, imported names and
    their aliases, and identifier-shaped string constants (``getattr`` and
    dispatch-table keys)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and _IDENT.match(n.value):
            out.add(n.value)
    return out


def _reached_definitions() -> tuple[set[str], set[str]]:
    """(every top-level def/class of the package, the reached ones), each as
    ``module.name`` without the package prefix.

    Matching is by bare name, so it errs towards reached: a name used
    anywhere live reaches every definition of that name. Roots are whole
    entry files plus each package module's own module-level code (not its
    imports: a name an import binds is a use only where it is referred to).
    The walk then follows references only out of reached definitions, so a
    name that only dead code uses stays unreached; ``import x as y`` makes
    a live ``y`` reach ``x``."""
    live: set[str] = set()
    for p in _entry_files():
        live |= _names(ast.parse(p.read_text(), filename=str(p)))
    defs: dict[str, ast.AST] = {}
    aliases: dict[str, set[str]] = {}
    for p in sorted((REPO / PKG).rglob("*.py")):
        mod = ".".join(p.relative_to(REPO / PKG).with_suffix("").parts)
        tree = ast.parse(p.read_text(), filename=str(p))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{node.name}"] = node
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                live |= _names(node)
        for node in ast.walk(tree):
            if isinstance(node, ast.alias) and node.asname:
                aliases.setdefault(node.asname, set()).add(node.name.split(".")[-1])
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for alias, targets in aliases.items():
            if alias in live and not targets <= live:
                live |= targets
                grew = True
        for qual, node in defs.items():
            if qual not in reached and node.name in live:
                reached.add(qual)
                live |= _names(node)
                grew = True
    return set(defs), reached


def test_every_top_level_definition_is_reached_or_kept():
    defs, reached = _reached_definitions()
    assert "plans.crawl_round._run_round" in reached, "walk found no crawl round"
    unreached = defs - reached
    new = sorted(unreached - KEPT)
    assert not new, f"top-level definitions no entry point reaches: {new}"
    stale = sorted(KEPT - unreached)
    assert not stale, f"KEPT names that are reached or no longer defined: {stale}"
