"""Stream-path job budget over a pre-built ``graph=``, in both shapes.

Every call pays its setup once: a cold init is one fused init+scatter
job, a warm start or a resume adds one scatter job that regenerates the
starting update stream, and the expand to ``(id, value)`` rows is one
job. A checkpoint save is its parquet write; a load runs none. With one
blob partition per block (``state_partitions=g.p``) each superstep is
one fused job; with one partition (the default on small graphs) one
task runs a whole checkpoint interval, so a run without a checkpointer
is three jobs whatever its superstep count.
"""

import numpy as np
import pytest

from chaos_spark import csr as csr_mod
from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.csr import CsrGraph
from chaos_spark.fixtures import g4_powerlaw
from chaos_spark.stream import pagerank_stream
from chaos_spark.stream_algos import cc_stream, scc_stream

K = 4
STOP_AT = 3


@pytest.fixture(scope="module")
def graph(spark):
    edges = spark.createDataFrame(g4_powerlaw(scale=9, num_edges=3000)).persist()
    ne = edges.count()
    g = CsrGraph(spark, edges, num_edges=ne)
    yield spark, edges, g, ne
    g.unpersist()
    edges.unpersist()


def _pagerank(graph, **kw):
    spark, edges, g, _ = graph
    return pagerank_stream(spark, edges, graph=g, **kw)


def _per_superstep(graph, **kw):
    """The one-job-per-superstep shape: one blob partition per block."""
    return _pagerank(graph, state_partitions=graph[2].p, **kw)


def test_cold_pagerank_jobs(graph, count_jobs):
    with count_jobs() as jobs:
        res = _per_superstep(graph, tol=0.0, max_iters=K)
    assert res.supersteps == K
    assert len(jobs) == (
        1  # init: fused init+scatter over range(p), eager localCheckpoint
        + K  # per superstep: the fused apply+scatter barrier
        + 1  # expand blobs to (id, rank) rows
    ), jobs


def test_warm_start_pagerank_jobs(graph, count_jobs):
    prior = _pagerank(graph, tol=0.0, max_iters=2).state.select("id", "rank")
    with count_jobs() as jobs:
        res = _per_superstep(graph, tol=0.0, max_iters=2, init_ranks=prior)
    assert res.supersteps == 2
    assert len(jobs) == (
        1  # init: the vertex scan of the graph's apply plans (join build side)
        + 1  # init: prior ranks joined and aligned into blobs, eager localCheckpoint
        + 1  # scatter of the starting state, collected for the strict checks
        + 2  # per superstep: the fused apply+scatter barrier
        + 1  # expand blobs to (id, rank) rows
    ), jobs


def test_checkpoint_stop_and_resume_jobs(graph, count_jobs, tmp_path):
    cfg = {"algo": "pagerank_stream", "tol": 0.0}
    ck = CheckpointManager(str(tmp_path), "pagerank_stream", cfg)
    with count_jobs() as jobs:
        stopped = _per_superstep(
            graph, tol=0.0, max_iters=STOP_AT, checkpointer=ck,
            checkpoint_every=STOP_AT,
        )
    assert stopped.supersteps == STOP_AT
    assert len(jobs) == (
        1  # init: fused init+scatter over range(p), eager localCheckpoint
        + STOP_AT  # per superstep: the fused apply+scatter barrier
        + 1  # checkpoint at STOP_AT: the parquet write; its load runs none
        + 1  # expand blobs to (id, rank) rows
    ), jobs

    ck = CheckpointManager(str(tmp_path), "pagerank_stream", cfg)
    with count_jobs() as jobs:
        resumed = _per_superstep(
            graph, tol=0.0, max_iters=5, checkpointer=ck,
            checkpoint_every=STOP_AT,
        )
    assert resumed.history[0]["superstep"] == STOP_AT + 1
    assert len(jobs) == (
        1  # the loaded blobs, eager localCheckpoint
        + 1  # scatter of the starting state, collected for the strict checks
        + (5 - STOP_AT)  # per superstep: the fused apply+scatter barrier
        + 1  # expand blobs to (id, rank) rows
    ), jobs


def test_cc_stream_jobs(graph, count_jobs):
    spark, edges, _, ne = graph
    g = CsrGraph(spark, edges, undirected=True, num_edges=ne)
    try:
        with count_jobs() as jobs:
            res = cc_stream(spark, edges, graph=g, state_partitions=g.p)
    finally:
        g.unpersist()
    assert res.converged and res.supersteps == 4
    assert len(jobs) == (
        1  # init: fused init+scatter over range(p), eager localCheckpoint
        + 4  # per superstep: the fused apply+scatter barrier
        + 1  # expand blobs to (id, label) rows
    ), jobs


def test_scc_stream_jobs(spark, count_jobs, tmp_path, monkeypatch):
    """SCC builds its two block sets cold, then runs its 25 supersteps
    in one task: one init job, one job for all of them, one expand."""
    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))
    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    edges = spark.createDataFrame(g4_powerlaw(scale=8, num_edges=1500)).persist()
    ne = edges.count()
    try:
        with count_jobs() as jobs:
            res = scc_stream(spark, edges, num_edges=ne)
    finally:
        edges.unpersist()
    assert res.converged and res.supersteps == 25
    assert len(jobs) == (
        1  # forward block build: both passes in one task
        + 1  # reversed block build, the same one job
        + 1  # init: fused init+scatter over range(p) in one task
        + 1  # every superstep, run inside the one task
        + 1  # expand blobs to (id, scc) rows
        + 1  # min-member relabel: broadcast of the per-SCC minima
    ), jobs


@pytest.mark.parametrize("k", [1, K, 12])
def test_one_task_cold_pagerank_jobs(graph, count_jobs, k):
    with count_jobs() as jobs:
        res = _pagerank(graph, tol=0.0, max_iters=k)
    assert res.supersteps == k and len(res.history) == k
    assert len(jobs) == (
        1  # init: fused init+scatter over range(p) in one task
        + 1  # every superstep, run inside the one task
        + 1  # expand blobs to (id, rank) rows
    ), jobs


def _ranks(res):
    pdf = res.state.toPandas().sort_values("id")
    return pdf["id"].to_numpy(), pdf["rank"].to_numpy()


def test_one_task_checkpoint_cadence_and_resume(graph, count_jobs, tmp_path):
    """Batches stop at checkpoint boundaries: a 5-superstep run with
    ``checkpoint_every=2`` writes manifests at 2 and 4 in both shapes, and
    stop-and-resume equals an uninterrupted run bit for bit."""
    cfg = {"algo": "pagerank_stream", "tol": 0.0}
    saved = {}
    for shape, run in (("one_task", _pagerank), ("per_superstep", _per_superstep)):
        ck = CheckpointManager(str(tmp_path / shape), "pagerank_stream", cfg)
        with count_jobs() as jobs:
            res = run(graph, tol=0.0, max_iters=5, checkpointer=ck, checkpoint_every=2)
        saved[shape] = (sorted(m["superstep"] for m in ck.manifests()), len(jobs), res)
    assert saved["one_task"][0] == saved["per_superstep"][0] == [2, 4]
    assert saved["one_task"][1] == (
        1  # init
        + 3  # batches: supersteps 1-2, 3-4, 5
        + 2  # checkpoint writes at 2 and 4
        + 1  # expand
    )
    full = saved["per_superstep"][2]
    assert [h["delta"] for h in saved["one_task"][2].history] == [
        h["delta"] for h in full.history
    ]

    ck = CheckpointManager(str(tmp_path / "stop"), "pagerank_stream", cfg)
    stopped = _pagerank(graph, tol=0.0, max_iters=3, checkpointer=ck, checkpoint_every=2)
    assert stopped.supersteps == 3
    ck = CheckpointManager(str(tmp_path / "stop"), "pagerank_stream", cfg)
    resumed = _pagerank(graph, tol=0.0, max_iters=5, checkpointer=ck, checkpoint_every=2)
    assert [h["superstep"] for h in resumed.history] == [3, 4, 5]
    for a, b in zip(_ranks(resumed), _ranks(full)):
        assert np.array_equal(a, b)


def test_graph_above_the_crossover_runs_a_job_per_superstep(
    graph, count_jobs, monkeypatch
):
    monkeypatch.setattr(csr_mod, "STREAM_ONE_TASK_MAX_EDGES", graph[2].num_edges - 1)
    with count_jobs() as jobs:
        res = _pagerank(graph, tol=0.0, max_iters=K)
    assert res.supersteps == K
    assert len(jobs) == 1 + K + 1, jobs
