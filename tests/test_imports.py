"""Every engine name the scripts, entry points, benchmark and tests
import must exist, and every public engine function or class must be
named by something other than a test.

Scripts import inside functions, so a deleted or renamed engine name
would otherwise surface only when someone runs that script.  The checks
are static (``ast``): the files are parsed, not executed.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "flink_kmeans_clustering_spark"
FILES = sorted(
    [
        *ROOT.glob("scripts/*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *ROOT.glob("perfbench/*.py"),
        *ROOT.glob("tests/*.py"),
    ]
)


def _engine_imports(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every engine import in ``path``; name
    is None for a plain ``import module``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PKG or node.module.startswith(PKG + "."):
                out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None)
                for a in node.names
                if a.name == PKG or a.name.startswith(PKG + ".")
            ]
    return out


def _is_submodule(module: str, name: str) -> bool:
    try:
        return importlib.util.find_spec(f"{module}.{name}") is not None
    except ModuleNotFoundError:  # ``module`` is not a package
        return False


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_engine_imports_resolve(path):
    missing = []
    for line, module, name in _engine_imports(path):
        mod = importlib.import_module(module)
        if name is None or name == "*" or hasattr(mod, name):
            continue
        if not _is_submodule(module, name):
            missing.append(f"{path.name}:{line}: {module}.{name}")
    assert not missing, missing


# --- public surface that only tests reach -----------------------------------

#: The non-test files: the engine itself, the driver entry point, the
#: benchmark and the scripts.
SURFACE_FILES = sorted(
    [
        *(ROOT / PKG).rglob("*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *ROOT.glob("scripts/*.py"),
        *ROOT.glob("perfbench/*.py"),
    ]
)

#: Public engine names that stay although no non-test file names them.
KEPT_FOR_TESTS = {
    "plans.introspect.pushed_filters": "plan-shape helper: tests assert filter pushdown",
    "plans.introspect.read_schemas": "plan-shape helper: tests assert scan column pruning",
    "plans.introspect.measured_shuffle_write_bytes": "plan-shape helper: tests measure exchange bytes",
    "plans.introspect.assert_has_node": "plan-shape helper: tests assert a physical node",
    "plans.introspect.assert_max_shuffles": "plan-shape helper: tests bound a plan's exchanges",
    "sources.pyds.synth_value": "the datasource test's reference; the reader inlines it so it pickles",
}


def _public_defs() -> dict[str, str]:
    """``module.name`` -> name for every public top-level function and
    class of the engine package."""
    out = {}
    for path in (ROOT / PKG).rglob("*.py"):
        module = ".".join(path.relative_to(ROOT / PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out[f"{module}.{node.name}"] = node.name
    return out


def _names_used(paths) -> set[str]:
    """Every identifier the files read, as a name or an attribute.  A
    definition, an import and an ``__all__`` entry are not reads, so an
    ``__init__`` re-export does not count as a use."""
    used = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    return used


def test_public_engine_surface_is_reached_outside_tests():
    """A public engine function or class that only its own tests call is
    dead code: delete it, or make it private and reached.  The scan is
    by name, so a name shared with anything used reads as reached."""
    defs, used = _public_defs(), _names_used(SURFACE_FILES)
    unreached = sorted(q for q, name in defs.items() if name not in used)
    extra = [q for q in unreached if q not in KEPT_FOR_TESTS]
    assert not extra, f"named by no non-test file: {extra}"
    stale = sorted(set(KEPT_FOR_TESTS) - set(unreached))
    assert not stale, f"reached (or gone); drop from KEPT_FOR_TESTS: {stale}"
