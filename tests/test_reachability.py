"""Every library module is reachable from the engine's surface.

The surface is the driver contract (``__spark_entry__.py``), the bench
CLI (``bench.py``), the benchmark (``perfbench/*.py``), the examples,
the operator catalog (``plans.catalog``) and the public facade
(``engine``).  The walk follows ``import`` statements parsed with
``ast`` -- nothing is imported and no Spark session starts -- including
imports nested inside functions, and counts the parent packages an
import executes.  A module that only tests import is dead weight: it
fails here until something on the surface uses it or it is deleted.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark"

ROOT_FILES = [
    "__spark_entry__.py",
    "bench.py",
    *sorted(os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))),
    *sorted(os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "examples", "*.py"))),
]
ROOT_MODULES = [f"{PKG}.plans.catalog", f"{PKG}.engine"]

# Library modules kept although nothing on the surface imports them.
UNREACHED_BY_DESIGN = {
    f"{PKG}.sources.csv_source": (
        "the reference's CSV seed load (SURVEY S1); the catalog reads "
        "parquet testdata instead"
    ),
    f"{PKG}.sources.jdbc_source": (
        "the Postgres-connector snapshot seam; it needs a live database, "
        "which no drive here has"
    ),
}


def _module_path(name: str) -> tuple[str, bool] | None:
    """(file, is_package) of a repo module by dotted name, or None."""
    base = os.path.join(REPO, *name.split("."))
    if os.path.isfile(os.path.join(base, "__init__.py")):
        return os.path.join(base, "__init__.py"), True
    if os.path.isfile(base + ".py"):
        return base + ".py", False
    return None


def _imported_names(path: str, module: str | None, is_pkg: bool) -> set[str]:
    """Every dotted name an import in ``path`` may load: the module
    of each ``from`` import plus ``module.name`` for each imported
    name (a submodule when such a file exists)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = module.split(".") if module else []
                if not is_pkg:
                    parts = parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _reached() -> set[str]:
    """Repo modules reached from the surface, by dotted name."""
    seen: set[str] = set()
    queue: list[tuple[str, str | None, bool]] = [
        (os.path.join(REPO, f), None, False) for f in ROOT_FILES
    ]

    def visit(name: str) -> None:
        parts = name.split(".")
        # importing a.b.c executes a/__init__ and a/b/__init__ first
        for i in range(1, len(parts) + 1):
            sub = ".".join(parts[:i])
            found = _module_path(sub)
            if found is None:
                return
            if sub not in seen:
                seen.add(sub)
                queue.append((found[0], sub, found[1]))

    for name in ROOT_MODULES:
        visit(name)
    while queue:
        path, module, is_pkg = queue.pop()
        for name in _imported_names(path, module, is_pkg):
            if name:
                visit(name)
    return seen


def _library_modules() -> set[str]:
    out = set()
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")].replace(os.sep, ".")
        out.add(rel[: -len(".__init__")] if rel.endswith(".__init__") else rel)
    return out


def test_every_library_module_is_reached():
    unreached = _library_modules() - _reached() - set(UNREACHED_BY_DESIGN)
    assert not unreached, (
        "library modules that no catalog entry, CDC drive, benchmark or "
        f"example imports: {sorted(unreached)}"
    )


def test_unreached_allowlist_is_exact():
    """Each allowlisted module exists and really is unreached, so the
    list cannot outlive its reason."""
    reached = _reached()
    for name in UNREACHED_BY_DESIGN:
        assert _module_path(name) is not None, f"{name} no longer exists"
        assert name not in reached, f"{name} is reached now; drop it from the allowlist"
