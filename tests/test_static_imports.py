"""Static check: every engine name a script imports exists.

The scripts (tools, jobs, the benchmark harness, the bench CLIs and the
driver entry) import the engine lazily, inside functions, so a deleted or
renamed engine function leaves a dangling import that only fails when that
code path runs. This walks each script's AST — function-local imports
included — and resolves every ``from otar3088_spark... import name``
without running the script. No Spark session is needed.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "otar3088_spark"
SCRIPT_GLOBS = (
    "tools/*.py",
    "jobs/*.py",
    "kgbench/*.py",
    "bench.py",
    "__spark_entry__.py",
)
# one script per surface that must keep importing the engine: the
# spark-submit job, the benchmark's traced harness, the battery CLI and the
# plan audit
ANCHOR_SCRIPTS = ("jobs/kg_submit.py", "kgbench/trace.py", "bench.py", "tools/dump_plans.py")


def _scripts() -> list[Path]:
    return sorted({p for g in SCRIPT_GLOBS for p in ROOT.glob(g)})


def _engine_imports(path: Path) -> list[tuple[int, str, str]]:
    """``(lineno, module, name)`` for every absolute ``from PKG... import``
    anywhere in the file."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module
            and (node.module == PKG or node.module.startswith(PKG + "."))
        ):
            out.extend((node.lineno, node.module, a.name) for a in node.names)
    return out


def _resolves(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_globs_find_engine_imports():
    # guards the check below against going vacuous (a moved directory, a
    # broken glob or a rewritten import style would otherwise pass with
    # nothing checked): each anchor script is found by the globs and
    # contributes at least one engine import
    scripts = set(_scripts())
    for rel in ANCHOR_SCRIPTS:
        assert ROOT / rel in scripts, rel
        assert _engine_imports(ROOT / rel), rel


@pytest.mark.parametrize("path", _scripts(), ids=lambda p: str(p.relative_to(ROOT)))
def test_script_engine_imports_resolve(path):
    missing = [
        f"{path.relative_to(ROOT)}:{line}: from {module} import {name}"
        for line, module, name in _engine_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "dangling engine imports:\n" + "\n".join(missing)
