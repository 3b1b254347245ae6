"""Every engine name the scripts, entry points, benchmark and tests
import must exist.

Scripts import inside functions, so a deleted or renamed engine name
would otherwise surface only when someone runs that script.  The check
is static (``ast``): the files are parsed, not executed.
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
