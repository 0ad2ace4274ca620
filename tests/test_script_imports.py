"""Every ``chaos_spark`` name the scripts and bench drivers import must
exist, and every keyword they pass to an imported chaos_spark function
must be one of its parameters. Scripts run only by hand, so a deleted
engine function or parameter would otherwise leave them silently dead
until the next campaign. Spark-free: the files are parsed with ``ast``,
never executed; only the imported chaos_spark modules are loaded (no
SparkSession starts).

The same ``ast`` pass keeps stream routing in one place: no
``chaos_spark/algos`` module but the router (``algos/_route.py``) may use
the warm-block probe or a ``*_MIN_EDGES`` crossover. It keeps one stream
loop: in ``stream.py`` and ``stream_algos.py`` only ``_stream_loop``
calls ``run_supersteps``. It keeps one kernel entry: every function
``chaos_spark`` hands to ``mapInPandas`` / ``applyInPandas`` is wrapped in
``shipping.kernel(...)``. And it pins the env-knob budget: the
``CHAOS_*`` names read under ``chaos_spark/``.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
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


def _bindings(tree: ast.AST) -> dict[str, tuple[str, str | None]]:
    """Local name -> ``(module, name)`` of the chaos_spark object an import
    binds it to, at any nesting depth; name is None for a module."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == "chaos_spark":
            for alias in node.names:
                if alias.name != "*":
                    out[alias.asname or alias.name] = (node.module, alias.name)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "chaos_spark":
                    if alias.asname:
                        out[alias.asname] = (alias.name, None)
                    else:
                        out["chaos_spark"] = ("chaos_spark", None)
    return out


def _member(obj, name: str):
    """``obj.name``, importing it when ``obj`` is a package and ``name``
    one of its submodules; None when there is no such member."""
    if hasattr(obj, name):
        return getattr(obj, name)
    if inspect.ismodule(obj) and hasattr(obj, "__path__"):
        full = f"{obj.__name__}.{name}"
        if importlib.util.find_spec(full) is not None:
            return importlib.import_module(full)
    return None


def _callee(func: ast.expr, bindings: dict):
    """The chaos_spark object a call's ``f`` / ``mod.f`` expression names,
    or None when it is not reached through an import."""
    path = []
    while isinstance(func, ast.Attribute):
        path.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name) or func.id not in bindings:
        return None
    module, name = bindings[func.id]
    obj = importlib.import_module(module)
    for part in ([name] if name else []) + path[::-1]:
        obj = None if obj is None else _member(obj, part)
    return obj


def _stale_keywords(tree: ast.AST) -> list[str]:
    """``line: callee(kw=)`` for every keyword passed to an imported
    chaos_spark callable that its signature does not accept. Callees that
    take ``**kwargs`` accept anything and are skipped."""
    bindings = _bindings(tree)
    stale = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        obj = _callee(node.func, bindings)
        if obj is None or inspect.ismodule(obj) or not callable(obj):
            continue
        try:
            params = inspect.signature(obj).parameters
        except (TypeError, ValueError):
            continue
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        for kw in node.keywords:
            p = params.get(kw.arg) if kw.arg is not None else None
            if kw.arg is not None and (p is None or p.kind is p.POSITIONAL_ONLY):
                stale.append(f"{node.lineno}: {ast.unparse(node.func)}({kw.arg}=)")
    return stale


def test_keyword_check_catches_a_deleted_parameter():
    src = (
        "from chaos_spark import algos\n"
        "from chaos_spark.stream import pagerank_stream as prs\n"
        "def run(s, e):\n"
        "    prs(s, e, tol=0.0, chain=2)\n"
        "    algos.pagerank(s, e, max_iters=3, chain=2)\n"
        "    algos.bfs(s, e, 0, max_iters=3)\n"
    )
    assert _stale_keywords(ast.parse(src)) == [
        "4: prs(chain=)", "5: algos.pagerank(chain=)",
    ]


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_chaos_keywords_exist(path):
    stale = _stale_keywords(ast.parse(path.read_text(), str(path)))
    assert not stale, f"{path.relative_to(ROOT)} passes unknown keywords: {stale}"


ROUTER = ROOT / "chaos_spark" / "algos" / "_route.py"
DISPATCHERS = sorted(set((ROOT / "chaos_spark" / "algos").glob("*.py")) - {ROUTER})


def _routing_refs(src: str) -> list[str]:
    """Routing internals ``src`` imports from csr or reads as an
    attribute: the warm-block probe and the ``*_MIN_EDGES`` crossovers."""
    hits = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.ImportFrom) and (
            node.module or ""
        ).split(".")[-1] == "csr":
            names = [alias.name for alias in node.names]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        else:
            continue
        hits += [
            n for n in names
            if n in ("_warm_key", "_warm_blocks_ready") or n.endswith("_MIN_EDGES")
        ]
    return hits


def test_routing_check_fires_on_a_hand_copied_router():
    # The routing preamble algos/cc.py carried before algos/_route.py.
    src = (
        "def connected_components(spark, edges, mode, num_edges, num_partitions):\n"
        "    from ..csr import CC_STREAM_MIN_EDGES, _warm_blocks_ready, _warm_key\n"
        "    ne = num_edges if num_edges is not None else edges.count()\n"
        "    warm = _warm_blocks_ready(\n"
        "        _warm_key(edges, True, None, num_partitions)\n"
        "    ) is not None\n"
        "    return mode == 'stream' or ne >= CC_STREAM_MIN_EDGES or warm\n"
    )
    assert _routing_refs(src) == [
        "CC_STREAM_MIN_EDGES", "_warm_blocks_ready", "_warm_key",
    ]
    assert _routing_refs("from chaos_spark import csr\ncsr.CSR_AUTO_MIN_EDGES\n")
    assert _routing_refs(ROUTER.read_text())


@pytest.mark.parametrize(
    "path", DISPATCHERS, ids=lambda p: str(p.relative_to(ROOT))
)
def test_only_the_router_routes(path):
    refs = _routing_refs(path.read_text())
    assert not refs, f"{path.relative_to(ROOT)} routes by hand: {refs}; use algos._route"


PACKAGE = sorted((ROOT / "chaos_spark").rglob("*.py"))


def _bare_kernels(src: str) -> list[str]:
    """``line: .mapInPandas(fn)`` for every ``mapInPandas`` /
    ``applyInPandas`` call in ``src`` whose function argument is not a
    ``kernel(...)`` (or ``shipping.kernel(...)``) call."""
    bare = []
    for node in ast.walk(ast.parse(src)):
        if not (
            isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("mapInPandas", "applyInPandas")
        ):
            continue
        fn = node.args[0] if node.args else next(
            (kw.value for kw in node.keywords if kw.arg == "func"), None
        )
        if not (isinstance(fn, ast.Call) and "kernel" in (
            getattr(fn.func, "id", None), getattr(fn.func, "attr", None)
        )):
            arg = ast.unparse(fn) if fn is not None else ""
            bare.append(f"{node.lineno}: .{node.func.attr}({arg})")
    return bare


def test_kernel_check_fires_on_a_bare_kernel():
    src = (
        "from .shipping import kernel\n"
        "from . import shipping\n"
        "def run(df, fused, merge):\n"
        "    df.mapInPandas(fused, schema='x long')\n"
        "    df.groupBy('k').applyInPandas(lambda _, p: merge(p), schema='x long')\n"
        "    df.mapInPandas(func=fused, schema='x long')\n"
        "    df.mapInPandas(kernel(fused), schema='x long')\n"
        "    df.mapInPandas(func=shipping.kernel(fused), schema='x long')\n"
    )
    assert _bare_kernels(src) == [
        "4: .mapInPandas(fused)",
        "5: .applyInPandas(lambda _, p: merge(p))",
        "6: .mapInPandas(fused)",
    ]


def test_every_kernel_enters_through_the_wrapper():
    bare = [
        f"{p.relative_to(ROOT)}:{hit}" for p in PACKAGE for hit in _bare_kernels(p.read_text())
    ]
    assert any("mapInPandas" in p.read_text() for p in PACKAGE)
    assert not bare, f"kernels that skip shipping.kernel: {bare}"


STREAM_MODULES = [ROOT / "chaos_spark" / "stream.py", ROOT / "chaos_spark" / "stream_algos.py"]


def _superstep_drivers(src: str) -> list[str]:
    """The top-level functions and classes of ``src`` that call
    ``run_supersteps``, by name or as an attribute, anywhere inside."""
    def drives(node):
        return any(
            isinstance(n, ast.Call) and "run_supersteps" in (
                getattr(n.func, "id", None), getattr(n.func, "attr", None))
            for n in ast.walk(node)
        )
    return [getattr(node, "name", "<module>") for node in ast.parse(src).body if drives(node)]


def test_loop_check_fires_on_a_hand_copied_loop():
    src = (
        "from .engine import run_supersteps\n"
        "def _stream_loop(state, step):\n"
        "    return run_supersteps(state, step, 10)\n"
        "def scc_stream(state, step):\n"
        "    def go():\n"
        "        return engine.run_supersteps(state, step, 10)\n"
        "    return go()\n"
    )
    assert _superstep_drivers(src) == ["_stream_loop", "scc_stream"]


def test_only_the_stream_loop_runs_supersteps():
    drivers = [d for p in STREAM_MODULES for d in _superstep_drivers(p.read_text())]
    assert drivers == ["_stream_loop"], f"hand-copied stream loops: {drivers}"


# ROADMAP aim 2: no new ``CHAOS_*`` env knob without deleting one. These
# are the knobs read under chaos_spark/ today; a change that adds one must
# delete another (or say in its commit why the budget grows).
ENV_KNOBS = frozenset({
    "CHAOS_AQE", "CHAOS_CSR_BLOCK_DIR", "CHAOS_EXPLAIN_DIR",
    "CHAOS_EXPLAIN_NAME", "CHAOS_EXPLAIN_TAG", "CHAOS_PERIODIC_GC",
    "CHAOS_SPARK_DRIVER_MEM", "CHAOS_WORKER_FASTPATH",
})


def _env_knobs(src: str) -> set[str]:
    """Every string literal in ``src`` that is exactly a ``CHAOS_*`` name —
    how an env knob is read (``os.environ.get("CHAOS_X")``); docstrings
    that mention one are longer strings and do not count."""
    return {
        node.value for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and node.value.startswith("CHAOS_")
        and node.value.replace("_", "").isalnum() and node.value.isupper()
    }


def _knob_budget_excess(srcs) -> set[str]:
    return set().union(*map(_env_knobs, srcs)) - ENV_KNOBS


def test_env_knob_check_fires_on_an_added_knob():
    srcs = [p.read_text() for p in (ROOT / "chaos_spark").rglob("*.py")]
    added = 'import os\nX = int(os.environ.get("CHAOS_NEW_KNOB", 1))\n'
    assert _knob_budget_excess([*srcs, added]) == {"CHAOS_NEW_KNOB"}
    assert _env_knobs('"""Set CHAOS_AQE=on to pin it."""\n') == set()


def test_env_knob_budget():
    srcs = [p.read_text() for p in (ROOT / "chaos_spark").rglob("*.py")]
    assert set().union(*map(_env_knobs, srcs)) == ENV_KNOBS
