"""Join-path PageRank job budget and checkpoint compatibility.

Setup runs each fact once: one vertex count (auto mode), one init job, no
standalone edge count, and no dangling-mass aggregate on resume. A
checkpoint round trip runs only its parquet write; ``load`` reads with the
schema stored in the manifest.
"""

import json

import pytest

from chaos_spark import algos
from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.csr import STREAM_AUTO_MIN_EDGES
from chaos_spark.fixtures import g4_powerlaw
from tests.oracles import pagerank_oracle

TOL = 1e-9
STOP_AT = 5  # the first call stops at its first checkpoint
CHECKPOINT_EVERY = 5


@pytest.fixture(scope="module")
def graph(spark):
    pdf = g4_powerlaw(scale=7, num_edges=600)
    edges = spark.createDataFrame(pdf).persist()
    ne = edges.count()
    assert ne < STREAM_AUTO_MIN_EDGES  # the join path serves auto mode
    yield pdf, edges, ne
    edges.unpersist()


def _pagerank(spark, graph, ck, max_iters, mode="auto"):
    _, edges, ne = graph
    return algos.pagerank(
        spark, edges, tol=TOL, max_iters=max_iters, checkpointer=ck,
        checkpoint_every=CHECKPOINT_EVERY, num_edges=ne, mode=mode,
    )


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.collect()}


def _assert_matches_oracle(res, pdf):
    got, want = _ranks(res), pagerank_oracle(pdf)
    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-6


def test_join_path_job_budget(spark, graph, count_jobs, tmp_path):
    ck = CheckpointManager(str(tmp_path), "pagerank", {"tol": TOL})
    with count_jobs() as jobs:
        stopped = _pagerank(spark, graph, ck, STOP_AT)
    assert stopped.supersteps == STOP_AT and not stopped.converged
    assert len(jobs) == (
        1  # auto mode's vertex count (picks the broadcast regime; is |V|)
        + 1  # init: broadcast of the seed join's small side
        + 1  # init: barrier localCheckpoint, observes the dangling mass
        + STOP_AT  # per superstep: broadcast of the sender vector
        + STOP_AT  # per superstep: barrier localCheckpoint (delta, dm)
        + 1  # checkpoint at STOP_AT: the parquet write; its load runs none
    ), jobs

    with count_jobs() as jobs:
        resumed = _pagerank(spark, graph, ck, 500)
    assert resumed.converged
    assert resumed.history[0]["superstep"] == STOP_AT + 1
    steps = len(resumed.history)
    saves = len(ck.manifests()) - 1  # every 5th superstep and at convergence
    assert len(jobs) == (
        1  # auto mode's vertex count; the dangling mass comes from the manifest
        + steps  # per superstep: broadcast of the sender vector
        + steps  # per superstep: barrier localCheckpoint (the first fills the edge cache)
        + saves  # per checkpoint: the parquet write
    ), jobs
    _assert_matches_oracle(resumed, graph[0])


@pytest.mark.parametrize("mode", ["broadcast", "shuffle"])
def test_pinned_mode_resume_matches_oracle(spark, graph, tmp_path, mode):
    """A pinned mode has no auto count: the regime counts |V| itself."""
    ck = CheckpointManager(str(tmp_path), "pagerank", {"tol": TOL, "mode": mode})
    assert not _pagerank(spark, graph, ck, STOP_AT, mode).converged
    resumed = _pagerank(spark, graph, ck, 500, mode)
    assert resumed.converged
    assert resumed.history[0]["superstep"] == STOP_AT + 1
    _assert_matches_oracle(resumed, graph[0])


def test_manifest_without_schema_or_dm_still_resumes(spark, graph, tmp_path):
    """A manifest written before ``schema`` and ``metrics.dm`` were stored
    loads by schema inference, and the resume aggregates the dangling mass;
    the result equals an uninterrupted run."""
    full = algos.pagerank(spark, graph[1], tol=TOL, max_iters=500, num_edges=graph[2])
    ck = CheckpointManager(str(tmp_path), "pagerank", {"tol": TOL})
    _pagerank(spark, graph, ck, STOP_AT)
    path = ck._manifest_path(STOP_AT)
    with open(path) as f:
        manifest = json.load(f)
    del manifest["schema"]
    del manifest["metrics"]["dm"]
    with open(path, "w") as f:
        json.dump(manifest, f)

    resumed = _pagerank(spark, graph, ck, 500)
    assert resumed.history[0]["superstep"] == STOP_AT + 1
    a, b = _ranks(full), _ranks(resumed)
    assert set(a) == set(b)
    assert max(abs(a[v] - b[v]) for v in a) < 1e-12


def test_checkpoint_load_runs_no_job(spark, graph, count_jobs, tmp_path):
    ck = CheckpointManager(str(tmp_path), "pagerank", {"tol": TOL})
    _pagerank(spark, graph, ck, STOP_AT)
    manifest = ck.latest()
    with count_jobs() as jobs:
        state = ck.load(spark, manifest)
    assert jobs == []
    assert sum(manifest["partitions"].values()) == manifest["total_rows"] == state.count()
    # The recorded dangling mass is the loaded state's.
    dm = state.where("out_degree = 0").agg({"rank": "sum"}).first()[0]
    assert manifest["metrics"]["dm"] == pytest.approx(dm, rel=1e-12)
