"""Every ``chaos_spark`` name the scripts and bench drivers import must
exist. Scripts run only by hand, so a deleted engine function would
otherwise leave them silently dead until the next campaign. Spark-free:
the files are parsed with ``ast``, never executed; only the imported
chaos_spark modules are loaded (no SparkSession starts).
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
FILES = sorted(
    [*ROOT.glob("scripts/*.py"), ROOT / "bench.py", ROOT / "bench_extra.py",
     *ROOT.glob("perfbench/*.py")]
)


def _chaos_imports(path: Path):
    """(module, name) for every chaos_spark import in ``path``, at any
    nesting depth (function-local imports included); name is None for a
    plain ``import chaos_spark.x``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == "chaos_spark":
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "chaos_spark":
                    yield alias.name, None


def _exists(module: str, name: str | None) -> bool:
    if importlib.util.find_spec(module) is None:
        return False
    if name is None or name == "*":
        return True
    mod = importlib.import_module(module)
    return hasattr(mod, name) or (
        hasattr(mod, "__path__")  # a package: the name may be a submodule
        and importlib.util.find_spec(f"{module}.{name}") is not None
    )


def test_import_check_sees_files():
    assert ROOT / "bench.py" in FILES
    assert any(_chaos_imports(ROOT / "bench.py"))


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_chaos_imports_resolve(path):
    missing = [
        f"{mod}.{name}" if name else mod
        for mod, name in _chaos_imports(path)
        if not _exists(mod, name)
    ]
    assert not missing, f"{path.relative_to(ROOT)} imports missing names: {missing}"
