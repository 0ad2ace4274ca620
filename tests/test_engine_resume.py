"""Resume test (SURVEY §5.2 item 4): interrupt after superstep s, resume()
=> identical final state to an uninterrupted run; manifests well-formed."""

import pytest

from chaos_spark.algos import connected_components, pagerank
from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.fixtures import g3_cliques, g4_powerlaw


def test_checkpoint_manifest_contents(spark, tmp_path):
    edges = spark.createDataFrame(g3_cliques())
    cp = CheckpointManager(str(tmp_path), "cc", {"algo": "cc"})
    res = connected_components(spark, edges, checkpointer=cp, checkpoint_every=1)
    ms = cp.manifests()
    assert len(ms) == res.supersteps
    last = cp.latest()
    assert last["superstep"] == res.supersteps
    assert last["total_rows"] == res.state.count()
    assert sum(last["partitions"].values()) == last["total_rows"]
    assert last["config_sha"] == cp.sha
    assert last["metrics"]["converged"] is True


def test_pagerank_resume_identical(spark, tmp_path):
    pdf = g4_powerlaw(scale=9, num_edges=2000)
    edges = spark.createDataFrame(pdf)
    cfg = {"algo": "pagerank", "tol": 1e-9, "damping": 0.85}

    # uninterrupted run
    full = pagerank(spark, edges, tol=1e-9, max_iters=500)

    # interrupted: stop after 3 supersteps (max_iters=3), then resume
    cp = CheckpointManager(str(tmp_path), "pagerank", cfg)
    partial = pagerank(spark, edges, tol=1e-9, max_iters=3, checkpointer=cp, checkpoint_every=1)
    assert not partial.converged
    resumed = pagerank(spark, edges, tol=1e-9, max_iters=500, checkpointer=cp, checkpoint_every=5)
    assert resumed.converged
    # resumed run started from the checkpoint, not from scratch
    assert resumed.history[0]["superstep"] == 4

    a = {r["id"]: r["rank"] for r in full.state.collect()}
    b = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert set(a) == set(b)
    assert max(abs(a[v] - b[v]) for v in a) < 1e-12


def test_resume_refuses_config_mismatch(spark, tmp_path):
    edges = spark.createDataFrame(g3_cliques())
    cp1 = CheckpointManager(str(tmp_path), "cc", {"v": 1})
    connected_components(spark, edges, checkpointer=cp1, checkpoint_every=1)
    # different config -> latest() must not return the old checkpoint
    cp2 = CheckpointManager(str(tmp_path), "cc", {"v": 2})
    assert cp2.latest() is None
    assert cp1.latest() is not None


def test_pagerank_csr_resume_identical(spark, tmp_path):
    """The CSR-block scale path (the north-star mechanism) must itself be
    checkpoint-resumable — interrupt after 3 supersteps, resume to a state
    identical to an uninterrupted run, starting from the checkpoint rather
    than from scratch."""
    from chaos_spark.stream import pagerank_stream

    pdf = g4_powerlaw(scale=9, num_edges=2000)
    edges = spark.createDataFrame(pdf)
    cfg = {"algo": "pagerank_csr", "tol": 1e-9, "damping": 0.85}

    full = pagerank_stream(spark, edges, tol=1e-9, max_iters=500)

    cp = CheckpointManager(str(tmp_path), "pagerank_csr", cfg)
    partial = pagerank_stream(
        spark, edges, tol=1e-9, max_iters=3, checkpointer=cp, checkpoint_every=1,
    )
    assert not partial.converged
    assert cp.latest()["superstep"] == 3
    resumed = pagerank_stream(
        spark, edges, tol=1e-9, max_iters=500, checkpointer=cp, checkpoint_every=5,
    )
    assert resumed.converged
    # resumed run started from the checkpoint, not from scratch
    assert resumed.history[0]["superstep"] == 4

    a = {r["id"]: r["rank"] for r in full.state.collect()}
    b = {r["id"]: r["rank"] for r in resumed.state.collect()}
    assert set(a) == set(b)
    assert max(abs(a[v] - b[v]) for v in a) < 1e-12


def test_cc_csr_resume_identical(spark, tmp_path):
    from chaos_spark.stream_algos import cc_stream

    pdf = g4_powerlaw(scale=8, num_edges=1200)
    edges = spark.createDataFrame(pdf)
    full = cc_stream(spark, edges, max_iters=100)

    cp = CheckpointManager(str(tmp_path), "cc_csr", {"algo": "cc_csr"})
    partial = cc_stream(spark, edges, max_iters=2, checkpointer=cp, checkpoint_every=1)
    assert not partial.converged
    resumed = cc_stream(spark, edges, max_iters=100, checkpointer=cp, checkpoint_every=5)
    assert resumed.converged
    assert resumed.history[0]["superstep"] == 3

    a = {r["id"]: r["label"] for r in full.state.collect()}
    b = {r["id"]: r["label"] for r in resumed.state.collect()}
    assert a == b


def test_lpa_csr_resume_identical(spark, tmp_path):
    from chaos_spark.stream_algos import lpa_stream

    pdf = g4_powerlaw(scale=8, num_edges=1200)
    edges = spark.createDataFrame(pdf)
    full = lpa_stream(spark, edges, max_iters=6)

    cp = CheckpointManager(str(tmp_path), "lpa_csr", {"algo": "lpa_csr"})
    lpa_stream(spark, edges, max_iters=2, checkpointer=cp, checkpoint_every=1)
    resumed = lpa_stream(spark, edges, max_iters=6, checkpointer=cp, checkpoint_every=5)
    assert resumed.history[0]["superstep"] == 3

    a = {r["id"]: r["label"] for r in full.state.collect()}
    b = {r["id"]: r["label"] for r in resumed.state.collect()}
    assert a == b
