"""One task per checkpoint interval ≡ one job per superstep.

With the blob state in one partition (``state_partitions=1``) the task
runs superstep after superstep itself; with one partition per block each
superstep is its own Spark job. The same kernels run over the same bytes
in the same order, so every ``_stream_loop`` kernel must give the same
supersteps, the same per-superstep statistics and bit-identical outputs
in both shapes, and a history of exactly one entry per superstep. Also
here: a stream call that raises leaves no update stream and no
ephemeral block dir behind, and a retried task attempt in the middle of
a batch changes nothing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from chaos_spark import csr as csr_mod
from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.engine import run_supersteps
from chaos_spark.fixtures import g4_powerlaw
from chaos_spark.stream import _stream_loop, pagerank_stream
from chaos_spark.stream_algos import (
    _HashMinCC,
    bfs_stream,
    bipartite_stream,
    cc_stream,
    hyperanf_stream,
    kcore_stream,
    lpa_stream,
    mis_stream,
    scc_stream,
    sssp_stream,
)

P = 4
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> (call, output column, history statistic)
KERNELS = {
    "pagerank": (lambda s, e, **kw: pagerank_stream(s, e, tol=1e-9, max_iters=40, **kw),
                 "rank", "delta"),
    "pagerank_weighted": (
        lambda s, e, **kw: pagerank_stream(
            s, e, tol=1e-9, max_iters=40, weight_col="weight", **kw),
        "rank", "delta"),
    "pagerank_personalized": (
        lambda s, e, **kw: pagerank_stream(
            s, e, tol=1e-9, max_iters=40, sources=[0, 3, 17], **kw),
        "rank", "delta"),
    "cc": (lambda s, e, **kw: cc_stream(s, e, **kw), "label", "changed"),
    "lpa": (lambda s, e, **kw: lpa_stream(s, e, max_iters=8, **kw), "label", "changed"),
    "bfs": (lambda s, e, **kw: bfs_stream(s, e, root=0, **kw), "dist", "changed"),
    "sssp": (lambda s, e, **kw: sssp_stream(s, e, root=0, weight_col="weight", **kw),
             "dist", "changed"),
    "kcore": (lambda s, e, **kw: kcore_stream(s, e, k=3, **kw), "in_core", "changed"),
    "mis": (lambda s, e, **kw: mis_stream(s, e, **kw), "in_set", "changed"),
    "bipartite": (lambda s, e, **kw: bipartite_stream(s, e, **kw), "color", "changed"),
    "hyperanf": (lambda s, e, **kw: hyperanf_stream(s, e, max_iters=12, **kw),
                 "nf", "changed"),
    "scc": (lambda s, e, **kw: scc_stream(s, e, **kw), "label", "changed"),
}


@pytest.fixture(scope="module")
def edges(spark):
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    pdf = pdf.assign(weight=1.0 + (pdf["src"] * 7 + pdf["dst"]) % 5)
    e = spark.createDataFrame(pdf).persist()
    e.count()
    yield e
    e.unpersist()


def _output(res, col):
    pdf = res.state.select("id", col).toPandas().sort_values("id")
    vals = pdf[col].tolist()
    return pdf["id"].to_numpy(), np.array(vals, dtype=np.float64)


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_one_task_changes_no_result(spark, edges, name):
    call, col, stat = KERNELS[name]
    one = call(spark, edges, num_partitions=P, state_partitions=1)
    per = call(spark, edges, num_partitions=P, state_partitions=P)
    assert one.supersteps == per.supersteps
    assert one.converged == per.converged
    assert [h[stat] for h in one.history] == [h[stat] for h in per.history]
    (ia, va), (ib, vb) = _output(one, col), _output(per, col)
    assert np.array_equal(ia, ib)
    assert np.array_equal(va, vb, equal_nan=True)
    # The history contract: one entry per superstep, consecutive
    # superstep numbers, and only the last entry converged.
    for res in (one, per):
        assert [h["superstep"] for h in res.history] == list(range(1, res.supersteps + 1))
        assert not any(h["converged"] for h in res.history[:-1])
        assert res.history[-1]["converged"] == res.converged


def test_run_supersteps_takes_batches_within_bounds():
    """Spark-free: a step may return several supersteps' stats, but never
    past the next checkpoint boundary or ``max_iters``, and only its last
    entry may be converged. Entries sum to the step's wall time."""
    def stepping(*batch):
        return lambda state, superstep: (state, [dict(s) for s in batch])

    two = stepping({"converged": False, "seconds": 0.0}, {"converged": False, "seconds": 0.0})
    res = run_supersteps(object(), two, max_iters=4, checkpoint_every=5)
    assert [h["superstep"] for h in res.history] == [1, 2, 3, 4]
    assert res.supersteps == 4 and not res.converged
    for bad, kw in (
        (two, {"max_iters": 3, "checkpoint_every": 5}),  # crosses max_iters
        (two, {"max_iters": 9, "checkpoint_every": 3}),  # crosses boundary 3
        (stepping({"converged": True}, {"converged": False}),
         {"max_iters": 9, "checkpoint_every": 10}),  # continues past convergence
    ):
        with pytest.raises(RuntimeError, match="crosses"):
            run_supersteps(object(), bad, **kw)


@pytest.mark.parametrize("where", ["init", "superstep"])
def test_raising_stream_call_leaves_nothing_behind(spark, edges, tmp_path, monkeypatch, where):
    """A kernel that raises inside a task: the call raises, and neither an
    update stream nor the call's ephemeral block dir stays on disk."""
    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    monkeypatch.setattr(csr_mod, "_WARM_KEEP_MAX_EDGES", 0)

    class FailingCC(_HashMinCC):
        def bind(self, n, qs):
            self.last_q = qs[-1]

        def scatter(self, upd_dir, q, blk, plan, labels, changed):
            # Init: fail on the last partition, after the others published.
            if where == "init" and q == self.last_q:
                raise RuntimeError("injected scatter failure")
            super().scatter(upd_dir, q, blk, plan, labels, changed)

        def gather_apply(self, plan, upd_dir, p, q, prev):
            if where == "superstep" and upd_dir.endswith("-2"):
                raise RuntimeError("injected gather failure")
            return super().gather_apply(plan, upd_dir, p, q, prev)

    with pytest.raises(Exception, match="injected"):
        _stream_loop(spark, edges, FailingCC(), max_iters=10, num_partitions=P)
    assert os.listdir(tmp_path) == []


def test_raising_scc_stream_leaves_nothing_behind(spark, edges, tmp_path, monkeypatch):
    """scc_stream runs two graphs: a call that raises mid-run (here its
    first checkpoint save) leaves neither block dir nor an update stream."""
    blocks = tmp_path / "blocks"
    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(blocks))
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    monkeypatch.setattr(csr_mod, "_WARM_KEEP_MAX_EDGES", 0)

    class FailingSave(CheckpointManager):
        def save(self, *a, **k):
            raise RuntimeError("injected save failure")

    ck = FailingSave(str(tmp_path / "cp"), "scc_stream", {})
    with pytest.raises(RuntimeError, match="injected"):
        scc_stream(spark, edges, num_partitions=P, checkpointer=ck, checkpoint_every=2)
    assert os.listdir(blocks) == []


_RETRY_SCRIPT = textwrap.dedent("""
    import glob, json, os, sys
    import numpy as np
    sys.path.insert(0, {root!r})
    from pyspark import TaskContext
    from chaos_spark import csr
    from chaos_spark.fixtures import g4_powerlaw
    from chaos_spark.session import get_spark
    from chaos_spark.stream import _SumPageRank, _stream_loop

    csr._DISK_BLOCK_BASE = {blocks!r}

    class FailOnce(_SumPageRank):
        # Raises on task attempt 0 at superstep 3, inside the one batch.
        def gather_apply(self, plan, upd_dir, p, q, prev):
            if upd_dir.endswith("-2") and TaskContext.get().attemptNumber() == 0:
                open(os.path.join({blocks!r}, "failed-once"), "w").close()
                raise RuntimeError("injected failure")
            return super().gather_apply(plan, upd_dir, p, q, prev)

    spark = get_spark("retry", master="local[2,2]", shuffle_partitions=2)
    edges = spark.createDataFrame(g4_powerlaw(scale=9, num_edges=3000)).persist()
    out = {{}}
    for name, algo in (("clean", _SumPageRank(0.85, 0.0, None, None)),
                       ("retried", FailOnce(0.85, 0.0, None, None))):
        res = _stream_loop(spark, edges, algo, max_iters=6, num_partitions=4,
                           token=name, state_partitions=1)
        pdf = res.state.toPandas().sort_values("id")
        out[name] = {{
            "ids": pdf["id"].tolist(),
            "rank": pdf["rank"].to_numpy().tobytes().hex(),
            "delta": [h["delta"] for h in res.history],
        }}
    out["failed"] = os.path.exists(os.path.join({blocks!r}, "failed-once"))
    out["upd"] = glob.glob(os.path.join({blocks!r}, "*", "upd-*"))
    print("RESULT " + json.dumps(out))
    spark.stop()
""")


def test_retried_batch_is_bit_identical(tmp_path):
    """Under ``local[2,2]`` a task may fail once. Attempt 0 of the one
    task raises at superstep 3 of a 6-superstep batch; attempt 1 restarts
    from the job's intact input stream and must end bit-identical to a
    run without the failure, with no update stream left behind."""
    script = tmp_path / "retry.py"
    blocks = tmp_path / "blocks"
    script.write_text(_RETRY_SCRIPT.format(root=ROOT, blocks=str(blocks)))
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=600,
        cwd=str(tmp_path),
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["failed"]  # the injected failure did fire
    assert out["retried"] == out["clean"]
    assert out["upd"] == []
