"""The worker fastpath (``shipping.worker_fastpath``) and the one kernel
entry (``shipping.kernel``) that runs it in every executor task.

Unit tests drive the patch over zip importers the test builds itself, in
a private ``sys.path_importer_cache``; the live test asks each task of a
4-task job whether every zip importer in its Python worker is guarded.
"""

from __future__ import annotations

import importlib.machinery
import sys
import zipfile
import zipimport

import pytest

from chaos_spark import shipping


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def importers(tmp_path, monkeypatch):
    """Two zip importers and one directory finder as the whole importer
    cache, with the fastpath's once-per-process env read reset."""
    zips = []
    for i in range(2):
        path = tmp_path / f"lib{i}.zip"
        _write_zip(path, [f"mod{i}"])
        zips.append(zipimport.zipimporter(str(path)))
    plain = importlib.machinery.FileFinder(str(tmp_path))
    cache = {imp.archive: imp for imp in zips}
    cache[str(tmp_path)] = plain
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(shipping, "_WORKER_FASTPATH_DONE", None)
    return zips, plain


def test_fastpath_guards_every_zip_importer_once(importers, monkeypatch):
    monkeypatch.delenv("CHAOS_WORKER_FASTPATH", raising=False)
    zips, plain = importers
    shipping.worker_fastpath()
    guards = [imp.__dict__.get("invalidate_caches") for imp in zips]
    assert all(imp._chaos_fastpath_guard for imp in zips)
    assert all(callable(g) for g in guards)
    assert "invalidate_caches" not in vars(plain)
    shipping.worker_fastpath()  # idempotent: the guards are not re-wrapped
    assert [imp.__dict__["invalidate_caches"] for imp in zips] == guards


def test_guard_rereads_only_a_changed_archive(importers, monkeypatch):
    monkeypatch.delenv("CHAOS_WORKER_FASTPATH", raising=False)
    zips, _ = importers
    shipping.worker_fastpath()
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda archive: reads.append(archive) or real_read(archive),
    )
    imp = zips[0]
    imp.invalidate_caches()
    assert reads == []  # unchanged archive: the per-task re-read is skipped

    _write_zip(imp.archive, ["mod0", "added"])  # replaced in place
    assert imp.find_spec("added") is None  # stale directory until invalidated
    imp.invalidate_caches()
    assert reads == [imp.archive]
    assert imp.find_spec("added") is not None
    imp.invalidate_caches()  # re-armed on the fresh bytes
    assert reads == [imp.archive]


def test_fastpath_off_leaves_importers_alone(importers, monkeypatch):
    monkeypatch.setenv("CHAOS_WORKER_FASTPATH", "0")
    zips, _ = importers
    shipping.worker_fastpath()
    for imp in zips:
        assert not hasattr(imp, "_chaos_fastpath_guard")
        assert "invalidate_caches" not in vars(imp)


def test_kernel_keeps_the_signature_the_worker_reads():
    import inspect

    def merge(key, pdf):
        return key, pdf

    wrapped = shipping.kernel(merge)
    assert inspect.getfullargspec(wrapped).args == ["key", "pdf"]
    assert wrapped("k", "pdf") == ("k", "pdf")


def test_every_task_worker_is_guarded(spark):
    """From inside each task of a 4-task job: the kernel wrapper has
    guarded every zip importer of that task's Python worker."""
    import pandas as pd

    shipping.ensure_shipped(spark)

    def probe(batches):
        import sys as _sys
        import zipimport as _zipimport

        from pyspark import TaskContext

        for _ in batches:
            pass
        zips = [
            f for f in list(_sys.path_importer_cache.values())
            if isinstance(f, _zipimport.zipimporter)
        ]
        yield pd.DataFrame({
            "part": [TaskContext.get().partitionId()],
            "zips": [len(zips)],
            "guarded": [sum(bool(getattr(f, "_chaos_fastpath_guard", False)) for f in zips)],
        })

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(shipping.kernel(probe), schema="part int, zips int, guarded int")
        .collect()
    )
    assert sorted(r["part"] for r in rows) == [0, 1, 2, 3]
    for r in rows:
        assert r["zips"] >= 1  # the shipped chaos_spark zip at least
        assert r["guarded"] == r["zips"], r


def test_package_zip_removed_at_exit():
    """The per-process package zip is gone once its process exits."""
    import os
    import subprocess

    code = "from chaos_spark import shipping; print(shipping._build_zip())"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, check=True,
    ).stdout.strip()
    assert out.endswith(".zip")
    assert not os.path.exists(out)
