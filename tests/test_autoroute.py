"""r6 auto-routing: the algos entry points (pagerank / connected_components
/ label_propagation) route mode="auto" calls to the fused stream kernels
above the measured crossovers (and, for the integer-exact CC/LPA, below
them when the warm-block registry already holds the graph's undirected
blocks) — with results identical to the pinned join path."""

import numpy as np
import pytest

import chaos_spark.csr as csr_mod
import chaos_spark.stream_algos as sa_mod
from chaos_spark.algos import connected_components, label_propagation, pagerank
from chaos_spark.fixtures import g3_cliques, g4_powerlaw


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}


def _labels(res):
    return dict(res.state.select("id", "label").collect())


def test_pagerank_auto_routes_stream_above_crossover(spark, monkeypatch):
    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    edges = spark.createDataFrame(g4_powerlaw(scale=9, num_edges=2000))
    a = _ranks(pagerank(spark, edges, tol=0.0, max_iters=5))
    b = _ranks(pagerank(spark, edges, tol=0.0, max_iters=5, mode="shuffle"))
    assert a.keys() == b.keys()
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)


def test_pagerank_stream_mode_rejects_shuffle_only_knobs(spark):
    edges = spark.createDataFrame(g3_cliques())
    with pytest.raises(ValueError):
        pagerank(spark, edges, max_iters=2, mode="stream", hub_threshold=5)


def test_cc_lpa_auto_route_stream_above_crossover(spark, monkeypatch):
    monkeypatch.setattr(csr_mod, "CC_STREAM_MIN_EDGES", 1)
    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    pdf = g4_powerlaw(scale=9, num_edges=2000)
    edges = spark.createDataFrame(pdf)
    assert _labels(connected_components(spark, edges)) == _labels(
        connected_components(spark, edges, mode="join")
    )
    assert _labels(label_propagation(spark, edges, max_iters=5)) == _labels(
        label_propagation(spark, edges, max_iters=5, mode="join")
    )


def test_cc_auto_upgrades_to_stream_on_warm_blocks(spark, monkeypatch):
    """Below the crossover, a warm-block registry hit routes CC to the
    stream kernel (the cold-build argument for the join path is void);
    results are the exact same integer labels."""
    pdf = g3_cliques()
    edges = spark.createDataFrame(pdf)
    # Cold small graph: no warm entry -> join path (cc_stream not called).
    calls = []
    real_cc_stream = sa_mod.cc_stream
    monkeypatch.setattr(
        sa_mod, "cc_stream",
        lambda *a, **k: calls.append(1) or real_cc_stream(*a, **k),
    )
    want = _labels(connected_components(spark, edges))
    assert calls == []
    # Build the undirected blocks (registers the warm key), then re-run
    # auto: must route stream and agree label-for-label.
    sa_mod.lpa_stream(spark, edges, max_iters=2)
    got = _labels(connected_components(spark, edges))
    assert calls == [1]
    assert got == want


def _dispatch_cases():
    from chaos_spark import algos

    return {
        "pagerank": lambda s, e: algos.pagerank(s, e, tol=0.0, max_iters=2),
        "cc": lambda s, e: algos.connected_components(s, e, max_iters=2),
        "lpa": lambda s, e: algos.label_propagation(s, e, max_iters=2),
        "bfs": lambda s, e: algos.bfs(s, e, 1, max_iters=2),
        "kcore": lambda s, e: algos.k_core(s, e, 2, max_iters=2),
        "mis": lambda s, e: algos.maximal_independent_set(s, e, max_iters=1),
        "bipartite": lambda s, e: algos.bipartite_check(s, e, max_iters=2),
        "hyperanf": lambda s, e: algos.hyper_anf(s, e, max_iters=2),
        "scc": lambda s, e: algos.strongly_connected_components(s, e, max_iters=2),
    }


@pytest.mark.parametrize("algo", sorted(_dispatch_cases()))
def test_auto_dispatch_threads_edge_count_into_block_build(spark, monkeypatch, algo):
    """Each auto dispatcher counts |E| to route; the stream route must hand
    that count to the block build instead of paying a second count job."""
    import chaos_spark.stream as st_mod

    for name in ("CSR_AUTO_MIN_EDGES", "STREAM_AUTO_MIN_EDGES", "CC_STREAM_MIN_EDGES"):
        monkeypatch.setattr(csr_mod, name, 1)
    seen = []

    class SpyGraph(csr_mod.CsrGraph):
        def __init__(self, *a, **k):
            seen.append(k.get("num_edges"))
            super().__init__(*a, **k)

    monkeypatch.setattr(sa_mod, "CsrGraph", SpyGraph)
    monkeypatch.setattr(st_mod, "CsrGraph", SpyGraph)
    pdf = g3_cliques()
    _dispatch_cases()[algo](spark, spark.createDataFrame(pdf))
    assert seen and None not in seen
    assert seen[0] == len(pdf)
