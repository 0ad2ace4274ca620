"""Fused streaming-partition superstep ≡ join path (SURVEY §3.2 property).

pagerank_stream must compute the same fixed point, in the same number of
supersteps, as the DataFrame join path — allclose (float association
differs across paths), exact id set, rank mass 1. Plus
the stream-specific invariants: resume from a mid-run checkpoint equals the
uninterrupted run (update streams are regenerated, not checkpointed), and
weighted graphs ride the same blocks.
"""

from __future__ import annotations

import numpy as np
import pytest

from chaos_spark.algos import pagerank
from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.fixtures import g1_chain, g2_star, g3_cliques, g4_powerlaw
from chaos_spark.stream import pagerank_stream

from tests.oracles import pagerank_oracle

GRAPHS = {
    "chain": g1_chain,
    "star_hub": g2_star,
    "two_cliques_bridge": g3_cliques,
    "powerlaw": lambda: g4_powerlaw(scale=10, num_edges=5000),
}


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_stream_equals_join_path(spark, name):
    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = pagerank(spark, edges, tol=1e-6, max_iters=60, mode="shuffle")
    r_str = pagerank_stream(spark, edges, tol=1e-6, max_iters=60)
    a, b = _ranks(r_join), _ranks(r_str)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)
    assert r_str.supersteps == r_join.supersteps


def test_pagerank_stream_matches_oracle(spark):
    pdf = GRAPHS["powerlaw"]()
    edges = spark.createDataFrame(pdf)
    res = pagerank_stream(spark, edges, tol=1e-9, max_iters=500)
    assert res.converged
    got = _ranks(res)
    want = pagerank_oracle(pdf)
    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_stream_weighted_equals_join(spark):
    # Chain + extra weighted edges; weights sum per duplicate (src, dst).
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "src": [0, 1, 2, 3, 4, 0, 0, 2],
            "dst": [1, 2, 3, 4, 0, 2, 2, 4],
            "w": [1.0, 2.0, 0.5, 1.5, 1.0, 3.0, 1.0, 2.5],
        }
    )
    edges = spark.createDataFrame(pdf)
    r_join = pagerank(spark, edges, weight_col="w", tol=1e-8, max_iters=80,
                      mode="shuffle")
    r_str = pagerank_stream(spark, edges, weight_col="w", tol=1e-8,
                            max_iters=80)
    a, b = _ranks(r_join), _ranks(r_str)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)


def test_pagerank_stream_state_partitions_invariance(spark):
    # Physical blob placement must never affect results: kernels route by
    # the row's part value, not the task index.
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    a = pagerank_stream(spark, edges, tol=1e-6, max_iters=30)
    b = pagerank_stream(spark, edges, tol=1e-6, max_iters=30,
                        state_partitions=2)
    assert a.supersteps == b.supersteps
    ra, rb = _ranks(a), _ranks(b)
    ks = sorted(ra)
    assert np.allclose([ra[k] for k in ks], [rb[k] for k in ks],
                       rtol=0, atol=1e-15)


def test_pagerank_stream_resume_equals_uninterrupted(spark, tmp_path):
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "pagerank_stream", "tol": 1e-6, "graph": "g4s9"}

    full = pagerank_stream(spark, edges, tol=1e-6, max_iters=40)

    # Interrupted run: stop after the first checkpoint (superstep 3).
    cp1 = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream", config)
    part = pagerank_stream(
        spark, edges, tol=1e-6, max_iters=3,
        checkpointer=cp1, checkpoint_every=3,
    )
    assert part.supersteps == 3
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 3

    # Resume with a FRESH manager (new process image) and finish.
    cp2 = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream", config)
    res = pagerank_stream(
        spark, edges, tol=1e-6, max_iters=40,
        checkpointer=cp2, checkpoint_every=3,
    )
    a, b = _ranks(full), _ranks(res)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-12)
    assert res.supersteps == full.supersteps


def test_pagerank_stream_resume_beats_init_ranks(spark, tmp_path):
    """A checkpoint resume takes precedence over ``init_ranks``: a warm
    personalized run stopped at superstep 3 and resumed with the same
    ``init_ranks`` equals the uninterrupted warm run."""
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    sources = sorted(set(pdf["src"]))[:3]
    prior = pagerank_stream(
        spark, edges, tol=0.0, max_iters=2, sources=sources
    ).state.select("id", "rank")
    kw = dict(tol=0.0, init_ranks=prior, sources=sources)
    full = pagerank_stream(spark, edges, max_iters=6, **kw)

    config = {"algo": "pagerank_stream", "warm": True, "graph": "g4s9"}
    cp1 = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream", config)
    part = pagerank_stream(
        spark, edges, max_iters=3, checkpointer=cp1, checkpoint_every=3, **kw
    )
    assert part.supersteps == 3
    cp2 = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream", config)
    res = pagerank_stream(
        spark, edges, max_iters=6, checkpointer=cp2, checkpoint_every=3, **kw
    )
    assert res.history[0]["superstep"] == 4
    assert res.supersteps == full.supersteps == 6
    a, b = _ranks(full), _ranks(res)
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_pagerank_stream_warm_start_continues_exactly(spark):
    """warm(cold-k3 state) + 2 supersteps == cold k5 on the stream path —
    the scale path's incremental re-rank handoff (streaming ingest grows
    the graph, re-rank from prior ranks). Bit-level continuation: the
    kernels are fixed-order numpy folds, so no allclose slack is needed
    beyond the init frame's join nondeterminism (none: ranks ride rows)."""
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    cold3 = pagerank_stream(spark, edges, tol=0.0, max_iters=3)
    warm = pagerank_stream(
        spark, edges, tol=0.0, max_iters=2,
        init_ranks=cold3.state.select("id", "rank"),
    )
    cold5 = pagerank_stream(spark, edges, tol=0.0, max_iters=5)
    a, b = _ranks(warm), _ranks(cold5)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-15)


def test_pagerank_csr_warm_start_continues_exactly(spark):
    """The same continuation through the dispatcher pinned to the CSR-block
    path: ``algos.pagerank(mode="stream")`` must hand ``init_ranks`` to the
    kernel."""
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    cold3 = pagerank(spark, edges, tol=0.0, max_iters=3, mode="stream")
    warm = pagerank(
        spark, edges, tol=0.0, max_iters=2, mode="stream",
        init_ranks=cold3.state.select("id", "rank"),
    )
    cold5 = pagerank(spark, edges, tol=0.0, max_iters=5, mode="stream")
    a, b = _ranks(warm), _ranks(cold5)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-12)


@pytest.mark.parametrize("bad", [None, -1.0], ids=["null", "negative"])
@pytest.mark.parametrize("route", ["direct", "stream", "auto"])
def test_pagerank_stream_rejects_bad_weights(spark, monkeypatch, route, bad):
    """A NULL or non-positive weight makes a vertex neither sender nor
    dangling (silent rank-mass leak), so every weighted path must raise
    like the join path does — the direct kernel call, the pinned stream
    mode, and auto mode above the stream crossover."""
    import chaos_spark.csr as csr_mod

    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, bad), (2, 0, 2.0)], "src long, dst long, w double"
    )
    with pytest.raises(ValueError, match="strictly positive"):
        if route == "direct":
            pagerank_stream(spark, edges, weight_col="w", max_iters=3)
        else:
            pagerank(spark, edges, weight_col="w", max_iters=3, mode=route)
