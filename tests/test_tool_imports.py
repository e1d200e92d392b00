"""Every module a tool or root script imports still exists: each file is
parsed, none is run, and each imported module name must resolve with the
repo root (which the tools put first on ``sys.path``) and the script's own
directory (which ``python tools/x.py`` puts there) on the search path. A
deleted module that some script still imports fails here, not on the next
run of that script."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted([*ROOT.glob("*.py"), *(ROOT / "tools").glob("*.py")])


def _imported_modules(path: Path) -> set[str]:
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names.add(node.module)
    return names


def _resolves(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent package is missing
        return False


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_imports_resolve(path, monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT))
    monkeypatch.syspath_prepend(str(path.parent))
    missing = sorted(m for m in _imported_modules(path) if not _resolves(m))
    assert not missing, f"{path.name} imports modules that do not exist: {missing}"
