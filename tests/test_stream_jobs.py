"""Stream-path job budget over a pre-built ``graph=``.

Every call pays its setup once: a cold init is one fused init+scatter
job, a warm start or a resume adds one scatter job that regenerates the
starting update stream, each superstep is one fused job, and the expand
to ``(id, value)`` rows is one job. A checkpoint save is its parquet
write; a load runs none.
"""

import pytest

from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.csr import CsrGraph
from chaos_spark.fixtures import g4_powerlaw
from chaos_spark.stream import pagerank_stream
from chaos_spark.stream_algos import cc_stream

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


def test_cold_pagerank_jobs(graph, count_jobs):
    with count_jobs() as jobs:
        res = _pagerank(graph, tol=0.0, max_iters=K)
    assert res.supersteps == K
    assert len(jobs) == (
        1  # init: fused init+scatter over range(p), eager localCheckpoint
        + K  # per superstep: the fused apply+scatter barrier
        + 1  # expand blobs to (id, rank) rows
    ), jobs


def test_warm_start_pagerank_jobs(graph, count_jobs):
    prior = _pagerank(graph, tol=0.0, max_iters=2).state.select("id", "rank")
    with count_jobs() as jobs:
        res = _pagerank(graph, tol=0.0, max_iters=2, init_ranks=prior)
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
        stopped = _pagerank(
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
        resumed = _pagerank(
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
            res = cc_stream(spark, edges, graph=g)
    finally:
        g.unpersist()
    assert res.converged and res.supersteps == 4
    assert len(jobs) == (
        1  # init: fused init+scatter over range(p), eager localCheckpoint
        + 4  # per superstep: the fused apply+scatter barrier
        + 1  # expand blobs to (id, label) rows
    ), jobs
