"""Ship the chaos_spark package to executors (spark-submit --py-files
analogue, self-serve).

Only code paths that run Python ON executors (mapInPandas /
applyInPandas closures, which cloudpickle pickles by module reference)
need this; pure-JVM DataFrame plans do not. Call :func:`ensure_shipped`
before building such a plan — it zips the package once per process and
``addPyFile``s it once per SparkContext, making the module importable in
executor Python workers regardless of the driver's cwd/PYTHONPATH.

Every function ``chaos_spark`` hands to ``mapInPandas`` /
``applyInPandas`` enters through :func:`kernel`, which runs
:func:`worker_fastpath` in the task before the function itself
(``tests/test_script_imports.py`` fails on a bare one).
"""

from __future__ import annotations

import inspect
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()
_ZIP_PATH: str | None = None


def _build_zip() -> str | None:
    global _ZIP_PATH
    if _ZIP_PATH is not None:
        return _ZIP_PATH
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):  # already running from a py-files zip
        return None
    path = os.path.join(
        tempfile.gettempdir(), f"chaos_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(path, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    _ZIP_PATH = path
    return path


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    path = _build_zip()
    if path is not None:
        sc.addPyFile(path)
    _SHIPPED.add(key)


_WORKER_FASTPATH_DONE: bool | None = None  # None = env not read yet


def worker_fastpath() -> None:
    """One-time, per-Python-worker: stop ``importlib.invalidate_caches()``
    from re-reading every sys.path zip's central directory ON EVERY TASK.

    pyspark's per-task preamble (``worker_util.setup_spark_files``) calls
    ``importlib.invalidate_caches()`` unconditionally, and under Python
    3.11 ``zipimporter.invalidate_caches`` EAGERLY re-reads the archive
    directory. A PySpark 4.1 worker has four zips on its sys.path:
    ``pyspark.zip``, ``py4j-*-src.zip``, the ``spark-core`` jar and the
    shipped ``chaos_spark_pkg_*.zip`` (``pyspark.zip`` has one importer
    per imported subpackage, each re-reading the whole archive). One
    ``invalidate_caches()`` over them took 98-253 ms of pure CPU per task
    in worker probes (4-vCPU host, ``local[4]``; 0.1-0.2 ms patched)
    and ~85% of the wall of a 64-task no-op mapInPandas stage (sampled
    worker stacks: ``worker_util.py:setup_spark_files ->
    zipimport._read_directory``) — the single largest per-task cost of a
    cheap kernel, and one that Spark pays per task forever.

    The fix is surgical: override ``invalidate_caches`` on the
    zipimporter INSTANCES that already exist in ``sys.path_importer_cache``
    with a guarded no-op bound attribute. Their cached directories stay
    valid (the archives never change during a run — Spark ships
    ADDITIONAL files under NEW paths, which get NEW importers that read
    fresh), and non-zip finders keep their normal invalidation.
    Python-side only, per-process, idempotent (re-scans so importers
    added later — e.g. a mid-run addPyFile — get patched on the next
    kernel call). Every executor kernel runs it first through
    :func:`kernel`. The preamble runs before any kernel code, so the
    FIRST task of a fresh worker still pays the re-read; every later
    task in that worker does not. Disable with CHAOS_WORKER_FASTPATH=0
    to A/B the tax.

    SCOPE: the patch is per-PYTHON-WORKER-PROCESS but APP-GLOBAL within
    that worker — PySpark reuses worker processes across workloads, so
    every workload sharing the worker sees the guarded importers, not
    just chaos_spark kernels (also stated in README "Worker fastpath").
    The guard below keeps that safe: each patched importer remembers its
    archive's (mtime_ns, size) from patch time and only no-ops while they
    still match; if the archive is ever replaced in place (e.g. a
    re-shipped file under the same SparkFiles path), the next
    invalidate_caches call falls through to the real eager re-read and
    re-arms on the fresh bytes — a stat() per zip per task (~µs) instead
    of an unconditional central-directory re-read (~100 ms)."""
    global _WORKER_FASTPATH_DONE
    if _WORKER_FASTPATH_DONE is None:
        _WORKER_FASTPATH_DONE = os.environ.get("CHAOS_WORKER_FASTPATH", "1") == "1"
    if not _WORKER_FASTPATH_DONE:
        return
    import sys
    import zipimport

    for finder in list(sys.path_importer_cache.values()):
        if not isinstance(finder, zipimport.zipimporter):
            continue
        if getattr(finder, "_chaos_fastpath_guard", False):
            continue
        archive = getattr(finder, "archive", None)
        if not archive:
            continue
        try:
            st = os.stat(archive)
        except OSError:
            continue  # archive gone — leave normal invalidation in place
        sig = [st.st_mtime_ns, st.st_size]
        real = zipimport.zipimporter.invalidate_caches.__get__(finder)

        def _guarded(_archive=archive, _sig=sig, _real=real):
            try:
                st = os.stat(_archive)
            except OSError:
                return _real()
            cur = (st.st_mtime_ns, st.st_size)
            if cur != tuple(_sig):
                _sig[:] = cur  # re-arm on the fresh bytes
                return _real()

        try:
            finder.invalidate_caches = _guarded  # type: ignore[method-assign]
            finder._chaos_fastpath_guard = True  # type: ignore[attr-defined]
        except AttributeError:
            pass  # C-implemented importer (other interpreters): leave it


def kernel(fn):
    """The one entry of every executor-side kernel: ``fn`` wrapped so the
    task runs :func:`worker_fastpath` first. Wrap at the call —
    ``df.mapInPandas(kernel(fn), schema=...)`` — for both mapInPandas
    (``fn`` returns an iterator; the patch lands before any batch is
    read) and applyInPandas (``fn`` returns a frame). The wrapper carries
    ``fn``'s signature, which the worker reads to pass applyInPandas its
    ``(key, pdf)`` or ``(pdf)`` arguments.

    cloudpickle ships the wrapper by value and ``worker_fastpath`` by
    reference to this module, so the worker needs the shipped package
    (:func:`ensure_shipped`) exactly as ``fn`` already does."""

    def run(*args):
        worker_fastpath()
        return fn(*args)

    run.__signature__ = inspect.signature(fn)
    return run
