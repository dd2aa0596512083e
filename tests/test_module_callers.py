"""Every engine module has a caller, and outside ``plans/`` every
public function of one has a caller and every public constant a reader.

Walks, with ``ast``, the imports reachable from the product's entry
points (the CLI, the ETL job, the sync ticks, the query registry under
``plans/`` and the driver contract ``__spark_entry__.py``). An engine
module outside ``plans/`` that none of them reaches is dead code and
fails this test, unless it is named in ``AWAITING_CLI`` with the
SURVEY.md row of the reference feature it ports. A public top-level
function, or public method of a top-level class, of an engine module
outside ``plans/`` that an entry point reaches fails it too when no
non-test file names it (the engine, its own module included,
``__spark_entry__.py``, ``perfbench/`` or ``tools/``), unless
``AWAITING_CALLER`` names it with its reason. So does a public
module-level name such a module binds by assignment, a constant, that no
non-test file reads, unless ``AWAITING_READER`` names it. A package
``__init__`` that imports a name only re-exports it, so that import is
not a caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "calaveras_uniteus_etl_spark"

# the entry points (``__main__`` is ``python -m``'s door to the CLI);
# every module under plans/ is one too
ROOTS = ("__spark_entry__", f"{PKG}.__main__", f"{PKG}.cli", f"{PKG}.etl", f"{PKG}.sync")

# Reference-parity modules that no CLI command exposes yet.
AWAITING_CLI = {
    f"{PKG}.sources.jdbc": "SURVEY.md A11, any-to-any database migration",
    f"{PKG}.sources.sftp": "SURVEY.md A6, SFTP pull source",
    f"{PKG}.sources.staging": "SURVEY.md A7, input staging sink",
    f"{PKG}.reports.document": "SURVEY.md A12, Word/PDF report sink",
}

# Public functions of reached engine modules that no non-test file calls.
AWAITING_CALLER = {
    f"{PKG}.functions.hashing.duckdb_md5_long_seeded_sql": "the DuckDB twin tests compare md5_long_seeded against",
    f"{PKG}.operators.multimodal.resize_plan": "Arrow kernels that tests/test_r12_optimizations.py compares the x39/x40 registry plans against",
    f"{PKG}.operators.multimodal.sample_frames": "Arrow kernels that tests/test_r12_optimizations.py compares the x39/x40 registry plans against",
    f"{PKG}.sources.delimited.detect_encoding": "the encoding probe tests compare read_delimited's charset against",
    f"{PKG}.operators.upsert.undo_load": "SURVEY.md C3, ETL job undo",
    f"{PKG}.reports.formatters.labels_datasets": "SURVEY.md §3.2 step 4, pivot to {labels, datasets}",
    f"{PKG}.reports.formatters.sankey": "SURVEY.md §3.2 step 4, Sankey node/link indexing",
}

# Public constants of reached engine modules that no non-test file reads.
AWAITING_READER: dict[str, str] = {}


def _module_files() -> dict[str, Path]:
    """Dotted name -> file, for every module of the package."""
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _imports(path: Path) -> set[str]:
    """Every module ``path`` imports, with its enclosing packages
    (importing a module runs their ``__init__``). The package imports
    absolutely; ``from pkg import name`` counts ``pkg.name`` too, which
    is the submodule when ``name`` is one."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            targets = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            found |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return found


def _reachable(modules: dict[str, Path]) -> set[str]:
    """Every module reachable from the entry points."""
    files = {**modules, "__spark_entry__": REPO / "__spark_entry__.py"}
    todo = [*ROOTS, *(n for n in modules if n.startswith(f"{PKG}.plans"))]
    seen = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += _imports(files[name]) & files.keys()
    return seen


def test_every_engine_module_is_reachable_from_an_entry_point():
    modules = _module_files()
    reachable = _reachable(modules)
    unreachable = {
        name
        for name in modules
        if name not in reachable
        and not name.startswith(f"{PKG}.plans")
        and name not in AWAITING_CLI
    }
    assert not unreachable, f"engine modules without a caller: {sorted(unreachable)}"


def test_awaiting_cli_list_names_only_unreached_modules():
    """An entry leaves the list once a command reaches its module."""
    modules = _module_files()
    assert set(AWAITING_CLI) <= modules.keys()
    assert not set(AWAITING_CLI) & _reachable(modules)


def _names(path: Path) -> set[str]:
    """Every identifier, attribute and string constant ``path`` names,
    except the names it only assigns and, in a package ``__init__``,
    the names it only re-exports."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            found.add(node.id)
        elif isinstance(node, ast.Attribute):
            found.add(node.attr)
        elif isinstance(node, ast.alias) and path.name != "__init__.py":
            found.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            found.add(node.value)
    return found


def _public_functions(path: Path) -> set[str]:
    """Public top-level functions of ``path`` and public methods of its
    top-level classes."""
    tree = ast.parse(path.read_text())
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    defs += [m for c in tree.body if isinstance(c, ast.ClassDef) for m in c.body if isinstance(m, ast.FunctionDef)]
    return {d.name for d in defs if not d.name.startswith("_")}


def _public_constants(path: Path) -> set[str]:
    """Public names that top-level assignments of ``path`` bind."""
    tree = ast.parse(path.read_text())
    targets = [t for n in tree.body if isinstance(n, ast.Assign) for t in n.targets]
    targets += [n.target for n in tree.body if isinstance(n, ast.AnnAssign)]
    names = {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
    return {n for n in names if not n.startswith("_")}


def _unnamed(public) -> set[str]:
    """``module.name`` for each name ``public(path)`` lists of a reached
    engine module outside ``plans/`` that no non-test file names."""
    sources = [*(REPO / PKG).rglob("*.py"), REPO / "__spark_entry__.py", *(REPO / "tools").rglob("*.py")]
    sources += [p for p in (REPO / "perfbench").rglob("*.py") if "tests" not in p.relative_to(REPO).parts]
    named = set().union(*(_names(p) for p in sources))
    modules = _module_files()
    return {
        f"{module}.{name}"
        for module in _reachable(modules) & modules.keys()
        if not module.startswith(f"{PKG}.plans")
        for name in public(modules[module]) - named
    }


def test_every_public_etl_and_warehouse_function_has_a_caller():
    uncalled = _unnamed(_public_functions)
    # an entry leaves the keep-map once something calls it
    assert uncalled == set(AWAITING_CALLER), f"public functions without a caller: {sorted(uncalled)}"


def test_every_public_constant_has_a_reader():
    unread = _unnamed(_public_constants)
    # an entry leaves the keep-map once something reads it
    assert unread == set(AWAITING_READER), f"public constants without a reader: {sorted(unread)}"
